"""Pipeline config loader: the reference's YAML/JSON pipeline shape → PipelineSpec.

The reference parses `inputs → processors → aggregators → flushers` configs
(example_config/data_pipelines/nginx-regex.yaml:24-50; C++ loader
core/collection_pipeline/CollectionPipeline.cpp:76-120, Go loader
pluginmanager/logstore_config.go:306+). Our loader accepts the same shape of
document (JSON always; YAML when a yaml module is available) and compiles it
to a :class:`loongcollector_spark.pipeline.PipelineSpec`:

```json
{
  "name": "nginx",
  "processors": [["parse_regex", {"source_key": "line", "pattern": "...", "keys": [...]}]],
  "routes": [{"sink": "errors", "content_key": "status", "content_regex": "5\\d\\d"}],
  "default_sink": "default",
  "shard_keys": ["source", "doc_id"], "shard_count": 16,
  "tags": {"env": "prod"},
  "sinks": {"errors": {"format": "parquet", "path": "/out/errors"}}
}
```
"""

from __future__ import annotations

import json
import re
from dataclasses import replace
from typing import Any, Mapping

from loongcollector_spark.operators.route import Condition, Route
from loongcollector_spark.pipeline import PipelineSpec
from loongcollector_spark.sinks import SinkSpec

_CONDITION_FIELDS = (
    "event_type", "tag_key", "tag_value", "content_key", "content_regex", "discard_tag",
)

# plan-time unroll for the reference's ExpandDepth=0 ("unlimited") recursion
_UNLIMITED_EXPAND_DEPTH = 6


def route_from_dict(d: Mapping[str, Any]) -> Route:
    cond_kwargs = {k: d[k] for k in _CONDITION_FIELDS if k in d}
    condition = Condition(**cond_kwargs) if cond_kwargs else None
    return Route(sink=d["sink"], condition=condition)


def sink_from_dict(name: str, d: Mapping[str, Any]) -> SinkSpec:
    return SinkSpec(
        name=name,
        format=d.get("format", "parquet"),
        path=d.get("path"),
        mode=d.get("mode", "overwrite"),
        partition_by=tuple(d.get("partition_by", ())),
        max_records_per_file=int(d.get("max_records_per_file", 0)),
        compression=d.get("compression"),
        options=d.get("options", {}),
        encoding=d.get("encoding", "none"),
        tag_columns=tuple(d.get("tag_columns", ())),
        time_column=d.get("time_column"),
        raw_column=d.get("raw_column"),
    )


def spec_from_dict(d: Mapping[str, Any]) -> PipelineSpec:
    return PipelineSpec(
        name=d.get("name", "pipeline"),
        processors=[(p[0], p[1]) for p in d.get("processors", [])],
        routes=[route_from_dict(r) for r in d.get("routes", [])],
        route_mode=d.get("route_mode", "first_match"),
        default_sink=d.get("default_sink", "default"),
        drop_dismatch=bool(d.get("drop_dismatch", False)),
        shard_keys=tuple(d.get("shard_keys", ("source", "doc_id"))),
        shard_count=int(d.get("shard_count", 16)),
        tags=d.get("tags", {}),
        sinks={name: sink_from_dict(name, s) for name, s in d.get("sinks", {}).items()},
        metrics_source_col=d.get("metrics_source_col", "source"),
        metrics_tokens_col=d.get("metrics_tokens_col", "n_tok"),
    )


def _load_doc(path: str) -> Mapping[str, Any]:
    with open(path) as fh:
        text = fh.read()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml  # optional dependency, like the reference's YAML support
        except ImportError as e:
            raise ImportError("YAML configs need PyYAML; use JSON instead") from e
        return yaml.safe_load(text)
    return json.loads(text)


def load_spec(path: str) -> PipelineSpec:
    """Load a pipeline spec from a JSON (or, if PyYAML is present, YAML) file.
    Both shapes are accepted: this package's own dict shape (module doc) and
    the reference's native ``inputs/processors/flushers`` pipeline YAML
    (detected by the ``inputs``/``flushers`` keys)."""
    doc = _load_doc(path)
    if "flushers" in doc or "inputs" in doc:
        return spec_from_native(doc)[0]
    return spec_from_dict(doc)


# --------------------------------------------------------------------------
# Native reference-config translation
# --------------------------------------------------------------------------

def _native_options(p: Mapping[str, Any], keep_source_default: bool = False):
    from loongcollector_spark.operators.parse_common import ParserOptions

    # per-plugin KeepSource defaults differ in the reference:
    # processor_json inits KeepSource=true (processor_json.go:112),
    # processor_regex / split_char default false
    keep = bool(p.get("KeepSource", keep_source_default))
    return ParserOptions(
        keep_source_on_success=keep,
        keep_source_on_fail=bool(p.get("KeepSourceIfParseError", True)),
    )


def _native_processor(p: Mapping[str, Any]) -> tuple[str, dict]:
    """One reference processor block (Type + PascalCase params) → a
    PROCESSORS-registry call. Covers the plugin types the shipped
    example_config/data_pipelines/*.yaml use; extend the table for more."""
    t = p["Type"]
    src = p.get("SourceKey", "content")
    if t in ("processor_regex", "processor_parse_regex_native"):
        return "parse_regex", {
            "source_key": src,
            "pattern": p["Regex"],
            "keys": list(p["Keys"]),
            "options": _native_options(p),
        }
    if t in ("processor_json", "processor_parse_json_native"):
        # reference: ExpandDepth 0 (the init default) means UNLIMITED
        # recursion (processor_json.go:32,109); the columnar expansion is
        # unrolled at plan time, so 'unlimited' maps to a bounded deep
        # unroll — real log payloads rarely nest past a handful of levels
        depth = int(p.get("ExpandDepth", 0))
        return "expand_json", {
            "source_key": src,
            "expand_depth": depth if depth > 0 else _UNLIMITED_EXPAND_DEPTH,
            "connector": p.get("ExpandConnector", "_"),
            "prefix": p.get("Prefix", ""),
            # processor_json inits KeepSource=true (processor_json.go:112)
            "options": _native_options(p, keep_source_default=True),
        }
    if t in ("processor_split_char", "processor_parse_delimiter_native"):
        return "parse_delimiter", {
            "source_key": src,
            # split_char inits SplitSep="\n" (split_char.go:186)
            "separator": p.get("SplitSep", p.get("Separator", "\n")),
            "keys": list(p.get("SplitKeys", p.get("Keys", []))),
            "options": _native_options(p),
        }
    if t == "processor_grok":
        dictionary = dict(p.get("CustomPatterns", {}) or {})
        if p.get("CustomPatternDir"):
            from loongcollector_spark.operators.grok import load_pattern_dir

            # dir patterns first, inline CustomPatterns win on collision
            # (processor_grok.go loads the dir then the inline map)
            merged = {}
            for d in p["CustomPatternDir"]:
                merged.update(load_pattern_dir(d))
            merged.update(dictionary)
            dictionary = merged
        return "parse_grok", {
            "source_key": src,
            "match": list(p["Match"]),
            "dictionary": dictionary,
            "ignore_parse_failure": bool(p.get("IgnoreParseFailure", True)),
            "keep_source": bool(p.get("KeepSource", True)),
        }
    if t == "processor_rename":
        # NoKeyError in the reference only LOGS an alarm and keeps flowing
        # (processor_rename.go:80-100); never abort the plan on a missing key
        return "rename", {
            "mapping": dict(zip(p.get("SourceKeys", []), p.get("DestKeys", []))),
            "no_key_error": False,
        }
    if t == "processor_add_fields":
        return "add_fields", {
            "fields": dict(p.get("Fields", {})),
            "ignore_if_exist": bool(p.get("IgnoreIfExist", False)),
        }
    if t == "processor_drop":
        return "drop", {"keys": list(p.get("DropKeys", []))}
    if t == "processor_pick_key":
        return "pick_keys", {
            "include": list(p["Include"]) if p.get("Include") else None,
            "exclude": list(p["Exclude"]) if p.get("Exclude") else None,
        }
    if t in ("processor_desensitize", "processor_desensitize_native"):
        # reference default Match is "full" (whole-value masking,
        # processor_desensitize.go init): anchored-^ begin + .* content
        # replaces the entire value exactly once; "regex" uses the
        # configured window
        if p.get("Match", "full") == "full":
            begin, content = "^", ".*"
        else:
            begin, content = p.get("RegexBegin", ""), p.get("RegexContent", ".*")
        method = p.get("Method", "const")
        if method == "const" and not p.get("ReplaceString"):
            # the reference refuses to load this config at Init
            # (processor_desensitize.go:65-66: "parameter ReplaceString
            # should not be empty when Method is const")
            raise ValueError(
                "processor_desensitize: ReplaceString must be non-empty "
                "when Method is 'const' (processor_desensitize.go:65-66)"
            )
        return "desensitize", {
            "source_key": src,
            "regex_begin": begin,
            "regex_content": content,
            "method": method,
            "replacement": p.get("ReplaceString", ""),
        }
    if t == "processor_filter_regex":
        return "filter_include_exclude", {
            "include": dict(p.get("Include", {}) or {}) or None,
            "exclude": dict(p.get("Exclude", {}) or {}) or None,
        }
    if t == "processor_split_key_value":
        return "parse_key_value", {
            "source_key": src,
            "pair_delimiter": p.get("Delimiter", "\t"),
            "kv_separator": p.get("Separator", ":"),
            # key_value_splitter.go:49 default prefix; the reference emits
            # flat log fields, so discovered keys are projected to columns
            # (plan-time discovery — the kv map stays for dynamic access)
            "no_separator_key_prefix": p.get(
                "NoSeparatorKeyPrefix", "no_separator_key_"
            ),
            "expand_keys": True,
        }
    if t == "processor_strptime":
        return "parse_timestamp", {
            # strptime.go defaultSourceKey = "time", NOT the raw line
            "source_key": p.get("SourceKey", "time"),
            "source_format": p.get("Format", "%Y-%m-%d %H:%M:%S"),
        }
    if t == "processor_gotime":
        from loongcollector_spark.operators.parse_time import go_layout_to_strptime

        def _loc(key: str) -> str | None:
            # SourceLocation/DestLocation are UTC offsets in hours
            # (gotime.go:73-78); 0/absent = keep as-is
            h = int(p.get(key, 0) or 0)
            return f"GMT{h:+d}" if h else None

        return "reformat_time", {
            "source_key": src,
            "source_format": go_layout_to_strptime(
                p.get("SourceFormat", "2006-01-02 15:04:05")
            ),
            "dest_key": p.get("DestKey", f"{src}_formatted"),
            "dest_format": go_layout_to_strptime(
                p.get("DestFormat", "2006-01-02 15:04:05")
            ),
            "source_timezone": _loc("SourceLocation"),
            "dest_timezone": _loc("DestLocation"),
            "keep_source": bool(p.get("KeepSource", True)),
        }
    if t == "processor_spl":
        from loongcollector_spark.operators.spl import validate_spl_config

        # Init-time validation per ProcessorSPL.cpp:35-101 (mandatory
        # Script, query-size cap, warn-default quota params); the quota
        # values are normalized but carry no per-operator runtime in Spark
        # (see the mapping table in operators/spl.py)
        return "spl", {"script": validate_spl_config(dict(p))["script"]}
    if t == "processor_split_log_regex":
        from loongcollector_spark.sources.files import PATH_TAG

        return "merge_multiline_rules", {
            "line_col": p.get("SplitKey", "content"),
            "file_col": PATH_TAG,
            "offset_col": "__offset__",
            "start_pattern": p["SplitRegex"],
        }
    if t == "processor_split_multiline_log_string_native":
        # the C++ inner processor InputFile inserts when Multiline is
        # configured (InputFile.cpp:217); params are the MultilineOptions
        # block (MultilineOptions.cpp:30-160)
        from loongcollector_spark.sources.files import PATH_TAG

        ml = p.get("Multiline", p)
        return "merge_multiline_rules", {
            "line_col": p.get("SourceKey", "content"),
            "file_col": PATH_TAG,
            "offset_col": "__offset__",
            "start_pattern": ml.get("StartPattern") or None,
            "continue_pattern": ml.get("ContinuePattern") or None,
            "end_pattern": ml.get("EndPattern") or None,
            "unmatched": (
                "discard"
                if str(ml.get("UnmatchedContentTreatment", "single_line"))
                .lower() == "discard"
                else "single_line"
            ),
            # the C++ merge keeps the first event's other fields
            # (MergeEvents keeps logEvents[0]) — matters when the merge
            # runs after a parser, e.g. the container chain's
            # _time_/_source_
            "keep_fields": True,
        }
    if t == "processor_default":
        # literal identity passthrough (processor_default.go:36-41: returns
        # the log array unchanged) — translate to a no-op stage
        return "noop", {}
    if t == "processor_appender":
        # processor_appender.go:34-44: Key/Value append with env expansion
        import os

        return "appender", {
            "key": p["Key"], "value": p["Value"], "env": dict(os.environ),
        }
    if t == "processor_base64_encoding":
        return "base64_encode", {
            "source_key": p["SourceKey"], "dest_key": p.get("NewKey") or None,
        }
    if t == "processor_base64_decoding":
        return "base64_decode", {
            "source_key": p["SourceKey"], "dest_key": p.get("NewKey") or None,
        }
    if t == "processor_md5":
        return "md5", {"source_key": p["SourceKey"], "md5_key": p["MD5Key"]}
    if t == "processor_dict_map":
        # processor_dict_map.go:33-86: MapDict inline or DictFilePath CSV
        # (plan-time file read, like grok CustomPatternDir); DestKey
        # defaults to SourceKey, Missing applies only when HandleMissing
        mapping = dict(p.get("MapDict") or {})
        if p.get("DictFilePath"):
            import csv

            with open(p["DictFilePath"], newline="") as fh:
                for row in csv.reader(fh):
                    if len(row) >= 2:
                        mapping[row[0]] = row[1]
        return "dict_map", {
            "source_key": p["SourceKey"],
            "mapping": mapping,
            "dest_key": p.get("DestKey") or p["SourceKey"],
            # reference default Missing="Unknown" (processor_dict_map.go:193)
            "missing": p.get("Missing", "Unknown") if p.get("HandleMissing") else None,
            "mode": p.get("Mode", "overwrite"),
        }
    if t == "processor_string_replace":
        # processor_string_replace.go:37-83: Method regex|const|unquote
        method = (p.get("Method") or "regex").lower()
        if method == "unquote":
            return "string_unquote", {
                "source_key": p["SourceKey"],
                "dest_key": p.get("DestKey") or None,
            }
        return "string_replace", {
            "source_key": p["SourceKey"],
            "pattern": p.get("Match", ""),
            "replacement": p.get("ReplaceString", ""),
            "dest_key": p.get("DestKey") or None,
            "literal": method == "const",
        }
    if t == "processor_packjson":
        # processor_packjson.go:31-39
        return "pack_json", {
            "source_keys": list(p["SourceKeys"]),
            "dest_key": p["DestKey"],
            "drop_packed": not p.get("KeepSource", True),
        }
    if t == "processor_anchor":
        # anchor.go:30-66: Anchors list over SourceKey; ExpondJSON (sic) is
        # the reference's spelling; JsonKeys is our explicit-keys extension
        # (the Go plugin discovers keys per event — columnar needs them
        # declared)
        anchors = [
            {
                "start": a.get("Start", ""),
                "stop": a.get("Stop", ""),
                "dest_key": a["FieldName"],
                "expand_json": bool(a.get("ExpondJSON", False)),
                "json_keys": a.get("JsonKeys"),
            }
            for a in p.get("Anchors", [])
        ]
        return "anchor_multi", {
            "source_key": p.get("SourceKey", "content"), "anchors": anchors,
        }
    if t == "processor_drop_last_key":
        return "drop_last_key", {
            "include": list(p.get("Include", ())), "drop_key": p["DropKey"],
        }
    if t == "processor_filter_key_regex":
        return "filter_key_regex", {"key_pattern": p.get("Match", ".*")}
    if t == "processor_encrypt":
        # processor_encrypt.go:121-151: AES-CBC + PKCS7, hex key and hex IV
        # (IV defaults to 32 zeros), hex-encoded ciphertext with the
        # explicit IV not prepended — reproduced exactly via Spark's
        # aes_encrypt CBC with the 16-byte IV prefix stripped
        ep = dict(p.get("EncryptionParameters") or {})
        key = ep.get("Key") or p.get("Key")
        key_file = ep.get("KeyFilePath") or p.get("KeyFilePath")
        if not key and key_file:
            # parseKey (processor_encrypt.go:160-167): the key file is JSON
            # unmarshalled INTO EncryptionParameters — {"Key": "<hex>", ...}
            # may also carry IV; raw-text key files are a config error there.
            import json as _json

            with open(key_file) as fh:
                try:
                    file_params = _json.load(fh)
                except ValueError as e:
                    raise ValueError(
                        f"processor_encrypt: key file {key_file} is not JSON "
                        f"(processor_encrypt.go:160-167 json.Unmarshal): {e}"
                    ) from None
            if not isinstance(file_params, dict):
                raise ValueError(
                    f"processor_encrypt: key file {key_file} must be a JSON "
                    'object like {"Key": "<hex>"} '
                    "(processor_encrypt.go:160-167 json.Unmarshal into "
                    "EncryptionParameters)"
                )
            key = file_params.get("Key")
            ep.setdefault("IV", file_params.get("IV"))
        if not key:
            # Init contract (processor_encrypt.go:155-157): fail the load,
            # never let a missing key silently null the encrypted fields.
            raise ValueError(
                "processor_encrypt must specify Key or KeyFilePath "
                "(processor_encrypt.go:155-157)"
            )
        return "encrypt", {
            "keys": list(p["SourceKeys"]),
            "key": key,
            "mode": "CBC",
            "iv_hex": ep.get("IV") or "0" * 32,
            "output": "hex",
        }
    if t == "processor_geoip":
        # processor_geoip.go:36-66 + plugin factory defaults (:174-179:
        # KeepSource true, Language zh-CN). DBPath is a MaxMind .mmdb file,
        # parsed at plan time by the pure-Python reader (sources/mmdb.py)
        # into a broadcast CIDR interval table. NoCountryCode is accepted
        # but unused — the Go ProcessGeoIP never consults it.
        return "geo_mmdb_lookup", {
            "ip_key": p["SourceKey"],
            "db_path": p["DBPath"],
            "language": p.get("Language", "zh-CN"),
            "no_province": bool(p.get("NoProvince", False)),
            "no_city": bool(p.get("NoCity", False)),
            "no_country": bool(p.get("NoCountry", False)),
            "no_coordinate": bool(p.get("NoCoordinate", False)),
            "ip_value_flag": bool(p.get("IPValueFlag", False)),
            "keep_source": bool(p.get("KeepSource", True)),
        }
    if t == "processor_cloud_meta":
        # cloud_meta.go:51-72 + platformmeta managers. The metadata map is
        # resolved ONCE at translate time (the columnar ReadOnce) — mock
        # values or a live ECS IMDS fetch (Endpoint overrides the magic IP
        # for tests; see operators/platformmeta.py). JSONPath injection into
        # a JSON field is the one declared gap: mutating arbitrary JSON
        # per-row has no sane columnar form, and the flat append mode is
        # what the shipped configs use.
        if p.get("JSONPath"):
            raise ValueError(
                "processor_cloud_meta: JSONPath injection is not supported "
                "(flat append mode only; cloud_meta.go:96-118)"
            )
        from loongcollector_spark.operators.platformmeta import resolve_metadata

        meta = resolve_metadata(
            list(p.get("Metadata", ())),
            platform=p.get("Platform", "mock"),
            endpoint=p.get("Endpoint"),
            rename=p.get("RenameMetadata") or {},
        )
        return "cloud_meta", {"metadata": meta}
    if t == "processor_csv":
        # processor_csv.go:30-49: SplitSep must be exactly one rune (Init
        # fails otherwise); registration default is ','
        sep = p.get("SplitSep", ",")
        if len(sep) != 1:
            raise ValueError(
                f"processor_csv: invalid separator {sep!r} "
                "(processor_csv.go:46-49)"
            )
        return "parse_csv", {
            "source_key": src,
            "keys": list(p.get("SplitKeys", ())),
            "sep": sep,
            "trim_leading_space": bool(p.get("TrimLeadingSpace", False)),
            "preserve_others": bool(p.get("PreserveOthers", False)),
            "expand_others": bool(p.get("ExpandOthers", False)),
            # the Go zero value is "" (overflow fields named '1','2',...,
            # processor_csv.go:92) — only a MISSING prefix in the repo's own
            # dict API is an error; `or ""` so an explicit YAML null also
            # lands on the zero value instead of flowing None downstream
            "expand_key_prefix": p.get("ExpandKeyPrefix") or "",
            "keep_source": bool(p.get("KeepSource", False)),
        }
    if t == "processor_split_string":
        # split_string.go:126-128 registration defaults: SplitSep='\n',
        # PreserveOthers=true; an explicitly empty SplitSep is an Init
        # error ('no split separator', :49-51); the ExpandKeyPrefix zero
        # value is "" (overflow fields named '1','2',..., :66,95)
        sep = p.get("SplitSep", "\n")
        if not sep:
            raise ValueError(
                "processor_split_string: no split separator "
                "(split_string.go:49-51)"
            )
        return "split_string_fields", {
            "source_key": src,
            "separator": sep,
            "keys": list(p.get("SplitKeys", ())),
            "preserve_others": bool(p.get("PreserveOthers", True)),
            "expand_others": bool(p.get("ExpandOthers", False)),
            # `or ""`: YAML null == the Go zero value (overflow fields
            # named '1','2',..., split_string.go:66,95)
            "expand_key_prefix": p.get("ExpandKeyPrefix") or "",
            "keep_source": bool(p.get("KeepSource", False)),
        }
    if t == "processor_split_log_string":
        # split_log_string.go:169-171 (SplitSep='\n', PreserveOthers=true).
        # Columnar rows keep their other fields — the PreserveOthers=false
        # field-dropping variant is not modeled (rarely used; the default
        # preserves).
        return "split_to_rows", {
            "source_key": p.get("SplitKey", "content"),
            "separator": p.get("SplitSep", "\n"),
        }
    if t == "processor_parse_container_log_native":
        # ProcessorParseContainerLogNative.cpp:62-105 optional params with
        # header defaults (.h:59-62). The reference picks containerd-text
        # vs docker-json per event group from runtime metadata; here the
        # Format param selects it (containerd_text is the e2e cases' shape)
        return "parse_container_log", {
            "source_key": p.get("SourceKey", "content"),
            "fmt": p.get("Format", "containerd_text"),
            "ignore_stdout": bool(p.get("IgnoringStdout", False)),
            "ignore_stderr": bool(p.get("IgnoringStderr", False)),
            "keep_source_on_fail": bool(p.get("KeepingSourceWhenParseFail", True)),
        }
    if t == "processor_merge_multiline_log_native":
        # ProcessorMergeMultilineLogNative.cpp:50-75: MergeType is
        # mandatory; "flag" merges container partial chunks (the P flag
        # parse_container_log surfaces as __is_partial__), "regex" is the
        # Start/Continue/End machine over the Multiline fields at the same
        # config level (mMultiline.Init(config)); anything else is a
        # PARAM_ERROR
        from loongcollector_spark.operators.parse_container import PARTIAL_KEY
        from loongcollector_spark.sources.files import PATH_TAG

        merge_type = p.get("MergeType")
        if merge_type == "flag":
            return "merge_by_flag", {
                "line_col": p.get("SourceKey", "content"),
                "file_col": PATH_TAG,
                "offset_col": "__offset__",
                "partial_flag_col": PARTIAL_KEY,
            }
        if merge_type == "regex":
            return _native_processor(
                {
                    "Type": "processor_split_multiline_log_string_native",
                    "SourceKey": p.get("SourceKey", "content"),
                    "Multiline": p,
                }
            )
        raise ValueError(
            "processor_merge_multiline_log_native: string param MergeType "
            f"is not valid: {merge_type!r} "
            "(ProcessorMergeMultilineLogNative.cpp:50-75)"
        )
    if t == "processor_parse_apsara_native":
        # ProcessorParseApsaraNative.cpp:36-75; Timezone must be the exact
        # GMT±HH:MM form (TimeUtil.cpp:370-388) — an invalid value is
        # warn-ignored, matching PARAM_WARNING_IGNORE
        tz = p.get("Timezone") or None
        if tz and not re.match(r"^GMT[+-]\d{2}:\d{2}$", tz):
            tz = None
        return "parse_apsara", {
            "source_key": src,
            "timezone": tz,
            "options": _native_options(p),
        }
    if t == "processor_parse_timestamp_native":
        # ProcessorParseTimestampNative.cpp:28-95; SourceYear=0 is the
        # deduce-from-machine-clock mode (TimeUtil.cpp:140-160) —
        # nondeterministic across a cluster, rejected at plan time
        sy = p.get("SourceYear")
        if sy == 0:
            raise ValueError(
                "processor_parse_timestamp_native: SourceYear=0 (deduce "
                "year from the machine clock, TimeUtil.cpp:140) is "
                "nondeterministic; set an explicit year"
            )
        tz = p.get("SourceTimezone") or None
        if tz and not re.match(r"^GMT[+-]\d{2}:\d{2}$", tz):
            tz = None
        return "parse_timestamp", {
            "source_key": src,
            "source_format": p["SourceFormat"],
            "source_timezone": tz,
            "source_year": sy if sy and sy > 0 else None,
        }
    if t == "processor_log_to_sls_metric":
        # processor_log_to_sls_metric.go:82-160 Init validation happens in
        # the operator (label regexes, non-empty MetricValues/labels,
        # errFieldRepeated). Without MetricTimeKey the Go stamps the log's
        # INGEST time (GetLogTimeNano) — nondeterministic in a columnar
        # replay, so __time_nano__ stays null and the influxdb encoding
        # emits a timestamp-less line (valid line protocol).
        return "log_to_metric", {
            "label_keys": list(p.get("MetricLabelKeys", ())),
            "metric_values": dict(p.get("MetricValues") or {}),
            "custom_labels": dict(p.get("CustomMetricLabels") or {}),
            "time_key": p.get("MetricTimeKey") or None,
        }
    if t in ("processor_otel_trace", "processor_otel_metric"):
        # processor_otel_trace.go:43-50 Init: empty Format is an error.
        # 'json' rides the from_json expansion; 'protobuf' needs the otlp
        # wheel (absent in this environment) — declared gate, same as the
        # Iceberg jar. The *NeedDecode flags re-code base64 span ids; the
        # json operators carry hex as-is.
        fmt = str(p.get("Format", "")).lower()
        if not fmt:
            raise ValueError(f"{t}: the Format field is empty "
                             "(processor_otel_trace.go:45-48)")
        if fmt != "json":
            raise ValueError(f"{t}: Format {fmt!r} is gated (no otlp "
                             "protobuf wheel in this environment); use json")
        if any(p.get(k) for k in
               ("TraceIDNeedDecode", "SpanIDNeedDecode", "ParentSpanIDNeedDecode")):
            raise ValueError(f"{t}: *NeedDecode base64 re-coding is not "
                             "modeled; ship hex ids (the OTLP/JSON form)")
        op = "otel_trace_parse" if t == "processor_otel_trace" else "otel_metric_shape"
        return op, {"source_key": src}
    if t == "processor_rate_limit":
        # processor_rate_limit.go: Limit "N/(s|m|h)" per Fields combination.
        # Batch analogue caps rows per key per batch (window-group-limit
        # pushdown); the streaming runner carries the true token bucket.
        n = int(str(p.get("Limit", "100/s")).split("/")[0])
        return "rate_limit", {
            "fields": list(p.get("Fields", ())), "limit": n,
        }
    if t == "processor_fields_with_condition":
        # processor_fields_with_condition.go:66-120: Switch of
        # {Case{LogicalOperator, RelationOperator, FieldConditions},
        #  Actions[{Type, Fields|DropKeys}]}
        from loongcollector_spark.operators.filters import ConditionCase

        rel_map = {"equals": "equals", "regexp": "regex",
                   "contains": "contains", "startwith": "startwith"}
        cases = []
        for c in p.get("Switch", []):
            case = c.get("Case", {})
            rel = rel_map[(case.get("RelationOperator") or "equals").lower()]
            logic = (case.get("LogicalOperator") or "and").lower()
            leaves = [
                {"key": k, rel: v}
                for k, v in (case.get("FieldConditions") or {}).items()
            ]
            cond = leaves[0] if len(leaves) == 1 else {logic: leaves}
            add: dict = {}
            drop: list = []
            for a in c.get("Actions", []):
                at = a.get("Type")
                if at == "processor_add_fields":
                    add.update(a.get("Fields") or {})
                elif at == "processor_drop":
                    drop.extend(str(k) for k in a.get("DropKeys") or [])
                else:
                    raise KeyError(
                        f"fields_with_condition action {at!r} unsupported"
                    )
            cases.append(ConditionCase(
                condition=cond, add_fields=add, drop_keys=tuple(drop),
            ))
        return "fields_with_condition", {
            "cases": cases,
            "drop_if_not_match": bool(p.get("DropIfNotMatchCondition", False)),
        }
    raise KeyError(f"unsupported native processor type {t!r}")


def _native_sink(
    f: Mapping[str, Any],
    overrides: Mapping[str, Mapping[str, Any]],
    name: str,
) -> SinkSpec:
    t = f["Type"]
    if name in overrides:
        return sink_from_dict(name, overrides[name])
    if t == "flusher_file":
        # flusher_file runs the converter chain before writing; a bare text
        # sink cannot hold a multi-column frame, so serialize as jsonline
        return SinkSpec(
            name=name, format="text", path=f.get("FileName"), encoding="jsonline"
        )
    if t in ("flusher_kafka", "flusher_kafka_v2"):
        opts = {"kafka.bootstrap.servers": ",".join(f.get("Brokers", []))}
        if f.get("Topic"):
            opts["topic"] = f["Topic"]
        return SinkSpec(name=name, format="kafka", options=opts)
    if t == "flusher_stdout":
        return SinkSpec(name=name, format="console")
    # network flushers (sls/es/...) have no sandbox endpoint: deliver to a
    # noop sink unless overridden to a local twin
    return SinkSpec(name=name, format="noop")


def _native_sink_names(flushers) -> list[str]:
    """Stable unique sink names: type-derived, '_2'/'_3' suffixed on repeats
    (two flusher_file blocks must not silently collapse into one sink)."""
    names: list[str] = []
    for f in flushers:
        t = f["Type"]
        base = {"flusher_sls": "sls", "flusher_stdout": "stdout",
                "flusher_file": "file"}.get(t, t.removeprefix("flusher_"))
        name, i = base, 1
        while name in names:
            i += 1
            name = f"{base}_{i}"
        names.append(name)
    return names


def spec_from_native(
    doc: Mapping[str, Any],
    name: str = "native",
    sink_overrides: Mapping[str, Mapping[str, Any]] | None = None,
) -> tuple[PipelineSpec, list[str]]:
    """Translate a reference pipeline config (example_config/data_pipelines/
    *.yaml shape: ``inputs`` / ``processors`` / ``flushers``; loaders
    core/collection_pipeline/CollectionPipeline.cpp:76-120 and
    pluginmanager/logstore_config.go:306+) into a PipelineSpec.

    Returns (spec, input_paths): ``input_paths`` are the input_file FilePaths
    globs — read them with sources.files.read_log_files (offsets on when a
    multiline processor is present) and hand the DataFrame to run_pipeline.
    Every flusher receives every event (the reference's flusher fan-out when
    no router is configured), so the spec compiles in fanout mode with one
    unconditional route per sink. flusher_stdout maps to the console sink,
    flusher_file to a jsonline-encoded text sink; network flushers map to
    noop sinks unless ``sink_overrides`` redirects them to a local twin.
    Repeated flusher types get '_2'/'_3'-suffixed sink names."""
    sink_overrides = sink_overrides or {}
    processors = [_native_processor(p) for p in doc.get("processors", [])]
    flushers = doc.get("flushers", [])
    sinks = [
        _native_sink(f, sink_overrides, n)
        for f, n in zip(flushers, _native_sink_names(flushers))
    ]

    # aggregators: pluginmanager runs them between processors and flushers
    # (logstore_config.go plugin order). Pack/batch mechanics are Spark's
    # job; the plan-shaping ones translate onto the spec.
    route_mode = "fanout"
    routes: list[Route] | None = None
    drop_dismatch = False
    shard_keys: tuple[str, ...] = ()
    shard_count = 16
    shard_connector = "_"
    for a in doc.get("aggregators", []):
        at = a["Type"]
        if at in ("aggregator_base", "aggregator_default", "aggregator_context"):
            # pack size/sequence mechanics — SinkSpec.max_records_per_file
            # is the MaxLogCount analogue; aggregator_context's per-source
            # ordered packs are the writer's per-partition order
            continue
        if at == "aggregator_shardhash":
            # aggregator_shardhash.go:229-236 defaults: Connector='_',
            # ShardCount=8 (power of 2 enforced by the operator)
            shard_keys = tuple(a.get("SourceKeys", ()))
            shard_count = int(a.get("ShardCount", 8))
            shard_connector = str(a.get("Connector", "_"))
            continue
        if at in ("aggregator_content_value_group", "aggregator_metadata_group"):
            # group-by-value packs -> file-sink partition columns: the same
            # co-location contract (one pack per key combination)
            keys = tuple(
                a.get("GroupKeys") or a.get("GroupMetadataKeys") or ()
            )
            if not keys:
                raise ValueError(f"{at}: must specify GroupKeys "
                                 "(aggregator_content_value_group.go:87-89)")
            sinks = [
                s if s.partition_by
                or s.format not in ("parquet", "json", "csv", "text")
                else replace(s, partition_by=keys)
                for s in sinks
            ]
            continue
        if at == "aggregator_logstore_router":
            regexes = list(a.get("RouterRegex") or ())
            stores = list(a.get("RouterLogstore") or ())
            if len(regexes) != len(stores):
                raise ValueError(
                    f"aggregator_logstore_router: router regex count "
                    f"{len(regexes)}, logstore count {len(stores)} "
                    "(aggregator_router.go:63-65)"
                )
            src = a.get("SourceKey") or "content"
            # Condition.to_column full-anchors the regex, matching the
            # aggregator's FindStringSubmatchIndex==whole-value rule
            # (aggregator_router.go:97-106)
            routes = [
                Route(sink=st, condition=Condition(content_key=src, content_regex=rx))
                for rx, st in zip(regexes, stores)
            ]
            route_mode = "first_match"
            drop_dismatch = bool(a.get("DropDisMatch", False))
            known = {s.name for s in sinks}
            for st in stores:
                if st not in known:
                    # a logstore with no flusher twin delivers to a noop
                    # sink unless sink_overrides binds it to a local path
                    sinks.append(_native_sink({"Type": "flusher_sls"},
                                              sink_overrides, st))
                    known.add(st)
            continue
        raise ValueError(
            f"aggregator {at!r} has no Spark translation "
            "(aggregator_opentelemetry/skywalking are protocol shims of "
            "their network flushers, which are connector-owned)"
        )
    paths: list[str] = []
    for inp in doc.get("inputs", []):
        if inp.get("Type") == "input_container_stdio":
            # InputContainerStdio::CreateInnerProcessors
            # (InputContainerStdio.cpp:299-365): line split (the source's
            # job here), container parse, BY_FLAG partial merge, then the
            # user Multiline block as a regex merge. The reference
            # discovers container stdout paths from the runtime; the graft
            # reads FilePaths (the e2e cases mount the runtime log files).
            paths.extend(inp.get("FilePaths", []))
            inner = [
                _native_processor(
                    {
                        "Type": "processor_parse_container_log_native",
                        "IgnoringStdout": inp.get("IgnoringStdout", False),
                        "IgnoringStderr": inp.get("IgnoringStderr", False),
                        "KeepingSourceWhenParseFail": inp.get(
                            "KeepingSourceWhenParseFail", True
                        ),
                        "Format": inp.get("Format", "containerd_text"),
                    }
                ),
                _native_processor(
                    {
                        "Type": "processor_merge_multiline_log_native",
                        "MergeType": "flag",
                    }
                ),
            ]
            ml = inp.get("Multiline")
            if ml and (ml.get("StartPattern") or ml.get("EndPattern")):
                inner.append(
                    _native_processor(
                        {
                            "Type": (
                                "processor_split_multiline_log_string_native"
                            ),
                            "Multiline": ml,
                        }
                    )
                )
            processors[:0] = inner
            continue
        if inp.get("Type") in ("input_file", "input_static_file"):
            paths.extend(inp.get("FilePaths", []))
            ml = inp.get("Multiline")
            # InputFile.cpp:217 inserts the split processor only when
            # IsMultiline() (Start or End regex present,
            # MultilineOptions.cpp:157-159)
            if ml and (ml.get("StartPattern") or ml.get("EndPattern")):
                processors.insert(
                    0,
                    _native_processor(
                        {
                            "Type": "processor_split_multiline_log_string_native",
                            "Multiline": ml,
                        }
                    ),
                )
    spec = PipelineSpec(
        name=name,
        processors=processors,
        routes=(routes if routes is not None
                else [Route(sink=s.name, condition=None) for s in sinks]),
        route_mode=route_mode,
        default_sink=sinks[0].name if sinks else "default",
        drop_dismatch=drop_dismatch,
        shard_keys=shard_keys,
        shard_count=shard_count,
        shard_connector=shard_connector,
        tags={},
        sinks={s.name: s for s in sinks},
        metrics_tokens_col=None,
    )
    return spec, paths


def load_native_config(
    path: str,
    name: str | None = None,
    sink_overrides: Mapping[str, Mapping[str, Any]] | None = None,
) -> tuple[PipelineSpec, list[str]]:
    """Load an unmodified reference pipeline YAML/JSON → (spec, input paths)."""
    import os

    doc = _load_doc(path)
    return spec_from_native(
        doc,
        name=name or os.path.splitext(os.path.basename(path))[0],
        sink_overrides=sink_overrides,
    )
