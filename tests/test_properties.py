"""Property-based invariants (hypothesis) — the truth-table/round-trip layer
of the reference's golden-test strategy, generalized beyond fixed fixtures.

Each property batches all generated examples into ONE Spark job (Spark's
per-job overhead would make per-example jobs minutes-slow), so hypothesis
shrinks over the batch contents, not the job count."""

from __future__ import annotations

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

from loongcollector_spark.functions import text as tx
from loongcollector_spark.operators import aggregate as agg_ops
from loongcollector_spark.operators import parse_apsara, parse_prometheus
from loongcollector_spark.operators.parse_kv import parse_key_value
from loongcollector_spark.sources import network

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# identifiers/values safe for k=v;k=v framing (no separators, no quotes)
_key = st.text(alphabet="abcdefghij_", min_size=1, max_size=8)
_val = st.text(alphabet="ABCxyz0123456789.-", min_size=1, max_size=12)


@settings(**SETTINGS)
@given(st.lists(st.dictionaries(_key, _val, min_size=1, max_size=5), min_size=1, max_size=8))
def test_kv_roundtrip_recovers_all_pairs(spark, dicts):
    """pack dict -> 'k=v;k=v' line -> parse_key_value == original dict."""
    all_keys = sorted({k for d in dicts for k in d})
    rows = [(i, ";".join(f"{k}={v}" for k, v in d.items())) for i, d in enumerate(dicts)]
    df = spark.createDataFrame(rows, "__row__ int, kvline string")
    parsed = parse_key_value(df, "kvline", ";", "=", keys=all_keys).collect()
    for r in parsed:
        d = dicts[r["__row__"]]
        for k in all_keys:
            assert r[k] == d.get(k), (k, d, r.asDict())


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-1000, 1000)),
        min_size=1,
        max_size=40,
    ),
    st.integers(2, 8),
)
def test_salted_agg_equals_plain_groupby(spark, rows, buckets):
    """Two-phase salted aggregation is value-identical to a plain groupBy for
    count/sum/min/max/avg, for ANY data and salt bucket count."""
    df = spark.createDataFrame([(k, v, i) for i, (k, v) in enumerate(rows)], "k string, v long, i long")
    salted = agg_ops.salted_agg(
        df,
        ["k"],
        {
            "n": ("count", F.lit(1)),
            "s": ("sum", F.col("v")),
            "mn": ("min", F.col("v")),
            "mx": ("max", F.col("v")),
            "av": ("avg", F.col("v")),
        },
        salt_expr=F.xxhash64(F.col("i").cast("string")),
        salt_buckets=buckets,
    )
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.avg("v").alias("av"),
    )
    got = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"], round(r["av"], 9)) for r in salted.collect()}
    want = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"], round(r["av"], 9)) for r in plain.collect()}
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="ab cd\t\n xyz", min_size=0, max_size=40), min_size=1, max_size=20))
def test_fingerprint_whitespace_case_invariant(spark, texts):
    """fingerprint(text) is invariant under case changes and whitespace
    runs/edges — the normalization contract."""
    rows = []
    for i, t in enumerate(texts):
        noisy = "  " + t.upper().replace(" ", "   ") + " \t"
        rows.append((i, t, noisy))
    df = spark.createDataFrame(rows, "i int, t string, noisy string")
    out = df.select(
        tx.fingerprint(F.col("t")).alias("f1"), tx.fingerprint(F.col("noisy")).alias("f2")
    ).collect()
    for r in out:
        assert r["f1"] == r["f2"]


@settings(**SETTINGS)
@given(
    st.lists(st.lists(st.integers(0, 50), min_size=0, max_size=30), min_size=1, max_size=30),
    st.lists(st.integers(0, 50), min_size=1, max_size=4),
)
def test_token_subseq_find_matches_python_reference(spark, rows, pat):
    from loongcollector_spark.operators.token_ops import token_subseq_find

    def ref(arr):
        m = len(pat)
        for i in range(len(arr) - m + 1):
            if arr[i : i + m] == pat:
                return i
        return -1

    df = spark.createDataFrame([(i, r) for i, r in enumerate(rows)], "i int, tokens array<int>")
    got = {r["i"]: r["match_pos"] for r in token_subseq_find(df, "tokens", pat).collect()}
    for i, arr in enumerate(rows):
        assert got[i] == ref(arr), (arr, pat)


def _go_csv_encode(fields: list[str], sep: str = ",") -> str:
    """Independent Go csv.Writer model (fieldNeedsQuotes) for the round-trip
    property — quoting decided per cell, embedded quotes doubled."""
    out = []
    for f in fields:
        needs = (
            sep in f or '"' in f or "\n" in f or "\r" in f
            or (f[:1].isspace() if f else False)
        )
        out.append('"' + f.replace('"', '""') + '"' if needs else f)
    return sep.join(out)


_cell = st.text(
    alphabet="abcXYZ019 ,\"'.-_\t", max_size=12
).filter(lambda s: "\n" not in s and "\r" not in s)


@settings(**SETTINGS)
@given(st.lists(st.lists(_cell, min_size=1, max_size=6), min_size=1, max_size=10))
def test_csv_encode_parse_roundtrip(spark, rows_fields):
    """Go-writer-encoded record -> parse_csv recovers every field in
    position (incl. empty fields, embedded quotes/commas/spaces)."""
    from loongcollector_spark.operators.parse_delimiter import parse_csv

    width = max(len(f) for f in rows_fields)
    keys = [f"c{i}" for i in range(width)]
    rows = [(i, _go_csv_encode(f)) for i, f in enumerate(rows_fields)]
    df = spark.createDataFrame(rows, "__row__ int, line string")
    parsed = parse_csv(df, "line", keys, keep_source=True).collect()
    for r in parsed:
        fields = rows_fields[r["__row__"]]
        for i in range(width):
            expect = fields[i] if i < len(fields) else None
            assert r[f"c{i}"] == expect, (fields, r.asDict())


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=(1 << 16) - 1),
                 min_size=0, max_size=12),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_gram_hashes_match_python_reference(spark, rows):
    """Positional packing is exact: the JVM gram hashes equal the Python
    reference packing of every length-3 window (distinct, first-occurrence
    order), and the packing is injective over token windows."""
    from loongcollector_spark.operators.token_ops import token_gram_hashes

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(rows)], "id long, tokens array<int>"
    )
    got = {r.id: list(r.g) for r in df.select(
        "id", token_gram_hashes(F.col("tokens"), n=3).alias("g")
    ).collect()}
    B = 1 << 16
    for i, toks in enumerate(rows):
        if len(toks) < 3:
            expect = []
        else:
            seen, expect = set(), []
            for j in range(len(toks) - 2):
                h = (toks[j] * B + toks[j + 1]) * B + toks[j + 2]
                if h not in seen:
                    seen.add(h)
                    expect.append(h)
        assert got[i] == expect, (toks, got[i], expect)
        # injectivity: recover the window from the hash
        for h in expect:
            w = (h // (B * B), (h // B) % B, h % B)
            assert list(w) in [list(toks[j:j+3]) for j in range(len(toks)-2)]


@given(st.lists(st.sampled_from(
    ["where id >= 0", "extend z = id + 1", "project-away z", "limit 5",
     "sort by id desc", "stats count() as n by content"]),
    min_size=1, max_size=4))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_spl_stage_chains_never_crash_plan_build(spark, stages):
    """Any chain of well-formed SPL stages compiles to a plan (or raises
    SplError for stages over dropped columns) — plan building never throws
    an unrelated Python error."""
    from pyspark.sql.utils import AnalysisException

    from loongcollector_spark.operators.spl import SplError, compile_spl

    df = spark.createDataFrame([(0, "a"), (1, "b")], "id long, content string")
    script = "* | " + " | ".join(stages)
    try:
        out = compile_spl(df, script)
        out.count()
    except (SplError, AnalysisException):
        pass  # dropped/unknown column chains legitimately fail analysis


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=50),
                  st.sampled_from(["a", "b", "c"])),
        min_size=1, max_size=30,
    ),
    st.sampled_from([3, 7, 16]),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_pack_chunks_conserves_mass(spark, rows, chunk_len):
    """Packing invariants for ANY doc-length distribution: (1) per pack key
    the slice-token mass equals the input token mass exactly (nothing lost
    or double-counted at chunk cuts); (2) every chunk except the last of
    each key carries exactly chunk_len tokens; (3) chunk ids per key are
    contiguous from 0."""
    from collections import defaultdict

    from loongcollector_spark.operators.token_ops import token_pack_chunks

    df = spark.createDataFrame(
        [(f"d{i:04d}", n, s) for i, (n, s) in enumerate(rows)],
        "doc_id string, n_tok int, source string",
    )
    spans = token_pack_chunks(df, chunk_len=chunk_len, partition_by="source").collect()
    mass = defaultdict(int)
    chunks = defaultdict(lambda: defaultdict(int))
    for r in spans:
        mass[r.source] += r.slice_tokens
        chunks[r.source][r.chunk_id] += r.slice_tokens
    expect = defaultdict(int)
    for i, (n, s) in enumerate(rows):
        expect[s] += n
    assert dict(mass) == {k: v for k, v in expect.items() if v > 0}
    for src, per_chunk in chunks.items():
        ids = sorted(per_chunk)
        assert ids == list(range(len(ids)))          # contiguous from 0
        for cid in ids[:-1]:
            assert per_chunk[cid] == chunk_len       # all full but the last
        assert 0 < per_chunk[ids[-1]] <= chunk_len


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab c", min_size=1, max_size=12),
            min_size=0, max_size=6,
        ),
        min_size=1, max_size=8,
    )
)
def test_c4_span_dedup_uniqueness_and_conservation(spark, docs):
    """C4 span dedup invariants over arbitrary corpora: (1) every surviving
    line is globally UNIQUE across the whole output corpus; (2) per doc,
    kept + removed == input nonempty lines; (3) the multiset of surviving
    lines equals the set of distinct input lines (nothing invented, nothing
    lost); (4) each surviving line sits at its first-(id,pos) owner."""
    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in tx.c4_span_dedup(df, "text", "id").collect()}

    all_kept: list[str] = []
    distinct_inputs = set()
    first_owner: dict[str, tuple[int, int]] = {}
    for i, lines in enumerate(docs):
        nonempty = [l for l in lines if l.strip()]
        for p, l in enumerate(nonempty):
            distinct_inputs.add(l)
            first_owner.setdefault(l, (i, p))
        r = out[i]
        kept = [l for l in r["text_clean"].split("\n") if l.strip()]
        all_kept.extend(kept)
        assert r["n_lines"] == len(nonempty)
        assert r["n_removed"] == len(nonempty) - len(kept)
        # (4) every kept line's first owner is this doc
        for l in kept:
            assert first_owner[l][0] == i, (l, first_owner[l], i)
    # (1) + (3): global uniqueness and exact coverage of the distinct inputs
    assert len(all_kept) == len(set(all_kept))
    assert set(all_kept) == distinct_inputs


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=3), min_size=0, max_size=10),
        min_size=1, max_size=8,
    )
)
def test_token_substring_dedup_conservation(spark, docs):
    """ExactSubstr removal invariants over arbitrary token corpora (tiny
    vocabulary so repeats are dense): per doc kept + removed == n_tok;
    docs shorter than w pass through untouched; every kept token's value
    comes from its own doc (the rebuild never invents tokens); and at
    least one occurrence of every repeated window's FIRST owner survives
    intact in the owner doc when w == doc length (whole-doc windows)."""
    from loongcollector_spark.operators.token_ops import token_substring_dedup

    w = 3
    rows = [(str(i), toks) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {r["doc_id"]: r for r in token_substring_dedup(df, w=w).collect()}
    assert set(got) == {str(i) for i in range(len(docs))}
    from collections import Counter

    for i, toks in enumerate(docs):
        r = got[str(i)]
        assert r["n_tok"] == len(toks)
        assert r["n_tok"] - r["n_removed"] == len(r["tokens_clean"])
        if len(toks) < w:
            assert list(r["tokens_clean"]) == toks and r["n_removed"] == 0
        # rebuild is a subsequence by multiset: no invented tokens
        assert not Counter(r["tokens_clean"]) - Counter(toks)


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abC 123", min_size=1, max_size=15),
            min_size=0, max_size=6,
        ),
        min_size=1, max_size=8,
    )
)
def test_line_correction_idempotent(spark, docs):
    """RefinedWeb line correction is idempotent: applying it to its own
    text_clean removes nothing (every boilerplate line is already gone),
    and kept + removed == input nonempty lines."""
    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    once = tx.line_correction(df, "text", "id")
    for r in once.collect():
        nonempty = [l for l in docs[r["id"]] if l.strip()]
        assert r["n_lines"] == len(nonempty)
        assert r["n_lines"] - r["n_removed"] == len(
            [l for l in r["text_clean"].split("\n") if l.strip()]
        )
    twice = tx.line_correction(
        once.select("id", F.col("text_clean").alias("text")), "text", "id"
    )
    for r in twice.collect():
        assert r["n_removed"] == 0 and r["removed_char_frac"] == 0.0


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.lists(st.integers(min_value=0, max_value=3), min_size=0, max_size=16),
        min_size=1, max_size=12,
    ),
    pair=st.tuples(st.integers(min_value=0, max_value=3),
                   st.integers(min_value=0, max_value=3)),
)
def test_bpe_merge_idempotent_and_invertible(spark, rows, pair):
    """For new_id outside the alphabet: (1) a second application of the same
    merge is a no-op — the rewrite can never create a fresh (a, b) adjacency
    because the substituted symbol is new; (2) expanding new_id back to
    [a, b] recovers the original corpus exactly (greedy non-overlapping
    merges are individually reversible)."""
    from loongcollector_spark.operators.token_ops import token_bpe_merge

    nid = 99  # outside the 0..3 alphabet
    a, b = pair
    df = spark.createDataFrame(
        [(str(i), r) for i, r in enumerate(rows)],
        "doc_id string, tokens array<int>",
    )
    once = token_bpe_merge(df, pair, nid)
    twice = token_bpe_merge(once, pair, nid)
    got_once = {r.doc_id: list(r.tokens) for r in once.collect()}
    got_twice = {r.doc_id: list(r.tokens) for r in twice.collect()}
    assert got_twice == got_once
    for i, original in enumerate(rows):
        expanded = []
        for t in got_once[str(i)]:
            expanded.extend([a, b] if t == nid else [t])
        assert expanded == original, (original, pair, got_once[str(i)])


# URL pieces for the canonicalization idempotence property: schemes/hosts in
# mixed case, optional default/explicit port, path segments, query params
# mixing tracking and real keys, optional fragment
_url_strategy = st.builds(
    lambda scheme, host, port, segs, params, frag: (
        scheme + "://" + host + port + "/" + "/".join(segs)
        + ("?" + "&".join(f"{k}={v}" for k, v in params) if params else "")
        + frag
    ),
    st.sampled_from(["http", "HTTP", "https", "HTTPS", "hTtP"]),
    st.builds(
        lambda a, b: a + "." + b,
        st.text(alphabet="abcDEF123", min_size=1, max_size=8),
        st.sampled_from(["Example.COM", "ex.co.uk", "site.NET", "x.org"]),
    ),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    # min_size=0 segments produce '//' runs and trailing '/'; these shapes
    # caught the original single-char trailing-strip non-idempotence
    st.lists(st.text(alphabet="AbC09._-?", min_size=0, max_size=6), max_size=4),
    st.lists(
        st.tuples(
            st.sampled_from(
                ["utm_source", "utm_campaign", "fbclid", "gclid", "ref",
                 "id", "q", "page"]
            ),
            st.text(alphabet="abc123", min_size=1, max_size=5),
        ),
        max_size=6,
    ),
    st.sampled_from(["", "#frag", "#a/b?c"]),
)


@settings(**SETTINGS)
@given(st.lists(_url_strategy, min_size=1, max_size=20))
def test_url_canonicalize_idempotent(spark, urls):
    """canonicalize(canonicalize(u)) == canonicalize(u): the output is a
    stable dedup key — re-running the normalizer can never split or merge
    groups. One batched job per example set."""
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = tx.url_canonicalize(F.col("u"))
    twice = tx.url_canonicalize(once)
    bad = df.select(once.alias("c1"), twice.alias("c2")).filter(
        F.col("c1") != F.col("c2")
    )
    assert bad.count() == 0, bad.collect()


# --- single-pass regex extraction ---------------------------------------------

_NGINX = r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'


def _gate_patterns() -> list[str]:
    from loongcollector_spark.operators.grok import _to_python, compile_grok

    grok = [_to_python(compile_grok(f"%{{{p}}}")[0]) for p in ("COMBINEDAPACHELOG", "SYSLOGLINE")]
    return [_NGINX, *grok, r"ab{2,3}cd+e?f", r"x(?:ab|cd)yz", r"(?:a|b)+lit[a-c]*tail",
            r"k[\]x]{1,2}=v\.\*", r"pre(?:fix(?:ed))mid(?:x)?suf", r"(?=ab)abc|zz"]


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_required_literal_is_in_every_match(data):
    """Gate soundness: every string the pattern fully matches contains the
    literal the gate tests before running the regex."""
    from loongcollector_spark.operators.parse_regex import required_literal

    pattern = data.draw(st.sampled_from(_gate_patterns()))
    lit = required_literal(pattern)
    line = data.draw(st.from_regex(pattern, fullmatch=True))
    assert lit is None or lit in line, (pattern, lit, line)


def test_required_literal_known_values():
    from loongcollector_spark.operators.parse_regex import required_literal

    assert required_literal(_NGINX) == " - - ["
    for p in (r"a\Qbcd\E", r"(?i)abcd", "abc|de", "ab[[c]]de", r"ab\x41cd", "(?:ab|cd)"):
        assert required_literal(p) is None, p
    assert required_literal(r"ab{2,3}cd+e?f") == "cd"


# (pattern, number of groups): an empty last group, a group that does not
# take part in a match, a dot that stops at "\n", an anchor inside the pattern,
# and the package's own multi-group patterns (syslog, Prometheus, Apsara)
_EXTRACT_PATTERNS = [
    (r"(a*)=(\d*)", 2),
    (r"(a+)(?:=(\d+)|-(x))", 3),
    (r"(.+)=(.*)", 2),
    (r"^(a*)1", 1),
    (network._RFC3164, 6),
    (parse_prometheus._LINE_RE, 4),
    (parse_apsara.APSARA_RE, 3),
]
_EXTRACT_FIXED = ["a=1\n", "a=\x00", "\x00a=1", "a=1\nb", "aa=", "a-x", "=", "", None, "\n", "a1\n",
                  "a\x00\x00=1\x00", "\x01a=\x00\x01", "a=\x00\x00\x01\x00", "\x00\x01\x00",
                  "<34>Oct 11 22:14:15 host su[12]: 'su root' failed", "<13>Feb  5 17:32:18 host msg\n",
                  "<9>Feb  5 17:32:18 host prog: a\x00b", 'up{job="a",le="+Inf"} 1 1700000000000',
                  "node_load1 0.5", 'm{a="x\\"y"}  NaN ', "[2024-01-01 12:00:00.123456]\t[INFO]\tk:v",
                  "[2024-01-01 12:00:00]\tno level\na:b", "[2024-01-01 12:00:00][WARN]\x00[ERROR]"]


@settings(**SETTINGS)
@given(st.lists(st.one_of(st.none(), st.text(alphabet="a1=-x \n\x00\x01", max_size=10)), max_size=25))
def test_single_pass_regex_equals_per_key_extract(spark, lines):
    """parse_regex's one regex pass gives what rlike + one regexp_extract per
    key give, with and without full_match, on lines holding U+0000 (the
    group separator, also in runs and inside groups), U+0001 (the fence
    around the per-row separator) or newlines, with a trailing newline, an
    empty last group, a non-participating group, or NULL. One job per
    example set."""
    from loongcollector_spark.operators.parse_common import ParserOptions
    from loongcollector_spark.operators.parse_regex import parse_regex

    rows = [(i, s) for i, s in enumerate(lines + _EXTRACT_FIXED)]
    df = spark.createDataFrame(rows, "id int, s string")
    keep = ParserOptions(keep_source_on_fail=True, keep_source_on_success=True)
    src = F.col("s")
    checks = []
    for p_i, (pattern, n) in enumerate(_EXTRACT_PATTERNS):
        for full in (False, True):
            keys = [f"k{p_i}{int(full)}_{g}" for g in range(1, n + 1)]
            df = parse_regex(df, "s", pattern, keys, keep, full_match=full)
            anchored = f"^(?:{pattern})$" if full else pattern
            for g, k in enumerate(keys, start=1):
                want = F.when(src.rlike(anchored), F.regexp_extract(src, anchored, g))
                checks.append((k, want))
    out = df.select("id", "s", *[F.col(k) for k, _ in checks],
                    *[w.alias(f"want_{k}") for k, w in checks]).collect()
    for r in out:
        for k, _ in checks:
            assert r[k] == r[f"want_{k}"], (k, r["s"], r[k], r[f"want_{k}"])


_ML_LINE = st.sampled_from(["S a", "S b", "C c", "E e", "plain", "", None, "\t2024 x"])
_ML_FILE = st.tuples(
    st.lists(st.tuples(_ML_LINE, st.sampled_from([True, False, None])), min_size=1, max_size=10),
    st.integers(1, 10),  # where the file's micro-batch boundary falls
)
# in every example, so even the simplest one holds each line kind, a NULL
# flag and a block straddling the micro-batch boundary
_ML_FIXED = [
    ([("plain", None), ("S a", True), (None, None), ("C c", True), ("\t2024 x", False),
      ("E e", True), ("", None), ("S b", False), ("C c", True), (None, False)], 4),
    ([("C c", True), ("E e", None), ("E e", True), ("S a", True), ("plain", True)], 2),
]
_ML_RULES = {
    "start": dict(start_pattern=r"^(S|\h*\d{4})"),  # \h: Java-only syntax
    "start_continue": dict(start_pattern="^S", continue_pattern="^C"),
    "start_end": dict(start_pattern="^S", end_pattern="^E"),
    "end": dict(end_pattern="^E"),
    "continue_end": dict(continue_pattern="^C", end_pattern="^E"),
    "start_continue_end": dict(start_pattern="^S", continue_pattern="^C", end_pattern="^E"),
    "continue": dict(continue_pattern="^C"),
}


@pytest.mark.filterwarnings("ignore:.*Pattern")
@settings(max_examples=2, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(st.lists(_ML_FILE, min_size=3, max_size=8))
def test_streaming_multiline_equals_batch(spark, tmp_path, files):
    """The streaming merge emits the batch merge's rows — every rule mode
    (the two normalized ones too) under both unmatched treatments, and
    BY_FLAG with NULL flags — for random per-file line streams cut at
    random micro-batch boundaries. Per example: one batch job for every
    mode, and one streaming query per mode."""
    from loongcollector_spark.operators.multiline import merge_by_flag, merge_multiline_rules
    from loongcollector_spark.streaming.multiline import (
        streaming_merge_by_flag,
        streaming_merge_rules,
    )
    from tests.test_streaming import MERGE_SCHEMA, run_merge_streams

    batches: list = [[], []]
    for f, (lines, cut) in enumerate(files + _ML_FIXED):
        rows = [(f"f{f}", i, line, f"t{i}", part) for i, (line, part) in enumerate(lines)]
        batches[0].extend(rows[:cut])
        batches[1].extend(rows[cut:])
    df = spark.createDataFrame(batches[0] + batches[1], MERGE_SCHEMA)

    outs, merges = {}, {}
    for name, rules in _ML_RULES.items():
        # a normalized mode runs another mode's automaton: one unmatched
        # value shows the normalization holds in the stream
        normalized = name in ("continue", "start_continue_end")
        for unmatched in ("single_line",) if normalized else ("single_line", "discard"):
            key = f"{name}_{unmatched}"
            outs[key] = merge_multiline_rules(df, "line", "file", "offset", **rules,
                                              unmatched=unmatched, keep_fields=True)
            merges[key] = lambda s, kw=dict(rules, unmatched=unmatched): streaming_merge_rules(
                s, "line", "file", "offset", flush_timeout_ms=100, **kw)
    outs["flag"] = merge_by_flag(df, "line", "file", "offset", "part")
    merges["flag"] = lambda s: streaming_merge_by_flag(
        s, "line", "file", "offset", "part", flush_timeout_ms=100)

    union = None
    for key, out in outs.items():
        out = out.withColumn("mode", F.lit(key))
        union = out if union is None else union.unionByName(out, allowMissingColumns=True)
    batch = {key: [] for key in outs}
    for r in union.collect():  # one batch job for every mode
        batch[r["mode"]].append(tuple(r[c] for c in outs[r["mode"]].columns))
    stream = run_merge_streams(spark, tmp_path, batches, merges)
    for key, want in batch.items():
        assert stream[key] == sorted(want, key=lambda r: (r[0], r[1])), key
