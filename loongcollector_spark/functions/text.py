"""Text functions for training-data pipelines.

Per-document columns: whitespace ``words`` and the one n-gram window over
them (``ngram_window``), language-ID, quality and Gopher repetition scores,
fingerprints, URL canonicalization, PII counts and redaction. These are
JVM array expressions that fuse into the scan stage: no UDF, no shuffle.

Corpus-level curation passes built on them: the domain blocklist, the
hashed-bucket models (DSIR importance, the quality classifier and the
LM-perplexity split share one bucket histogram and its densified lookup
table), C4 span dedup, RefinedWeb line correction and corpus top n-grams.
Each one's docstring states which exchanges it runs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny marker-word sets for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "est", "les"),
}

EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "on", "for", "with", "as", "at", "by", "this",
)


def words(col: Column) -> Column:
    """Whitespace tokenization (the token-count baseline)."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


def ngram_window(
    n: int, gram: Callable[[list[Column]], Column] | None, arr: Column
) -> Column:
    """The n-gram window: ``gram`` maps the n consecutive elements of each
    window (a list of n Columns) to one Column, and the result is the array
    of those, in window order. It is ``[]`` when ``arr`` is NULL or shorter
    than n. ``gram=None`` keeps each window as the struct of its n elements
    (fields "0" .. "n-1"), which spares a transform over every window.

    Shape matters. The window is arrays_zip of n SHIFTED SLICES of ``arr``,
    which reads ``arr`` 2n times (n slices and their n lengths) and never
    inside a per-gram lambda. The per-index form (transform over an index
    sequence with slice(arr, i+1, n) or get(arr, i+k) in the lambda) embeds
    ``arr`` in the lambda body, and Spark does not
    common-subexpression-eliminate inside higher-order functions: the whole
    array expression (say, a split of the text) is recomputed per gram,
    O(len²) per row (44 s against 2.5 s on 200k docs). Outside lambdas
    Spark still evaluates every copy, so for n > 1 ``arr`` is bound once,
    as ``transform(array(arr), a -> window(a))[0]``, and the 2n reads are
    of the lambda variable: on 20k docs of 100-200 words (local[4], 4
    vCPUs) ``hashed_shingles`` at n=3 took 0.9-1.0 s bound against 2.4 s
    with six evaluations of its word-hash array, and ``word_ngrams``
    1.2-1.4 s against 2.2-2.3 s. At n == 1 the window reads ``arr`` once
    and is not bound."""
    if n == 1:
        return _window(n, gram, arr)
    return F.transform(F.array(arr), lambda a: _window(n, gram, a))[0]


def _window(n: int, gram: Callable[[list[Column]], Column] | None, arr: Column) -> Column:
    """``ngram_window`` over ``arr`` as given, which it reads 2n times."""
    width = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    parts = [arr if n == 1 else F.slice(arr, 1 + k, width) for k in range(n)]
    windows = F.arrays_zip(*[p.alias(str(k)) for k, p in enumerate(parts)])
    if gram is not None:
        windows = F.transform(windows, lambda s: gram([s[str(k)] for k in range(n)]))
    return F.coalesce(windows, F.array())


def _joined(g: list[Column]) -> Column:
    """A word window's words joined by single spaces; a unigram is its one
    word (``concat_ws`` would copy it)."""
    return g[0] if len(g) == 1 else F.concat_ws(" ", *g)


def token_count(col: Column) -> Column:
    return F.size(words(col))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    ws = words(F.lower(col))
    sw = F.filter(ws, lambda w: w.isin(*stopwords))
    return (F.size(sw) / F.greatest(F.size(ws), F.lit(1))).cast("double")


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(col) - F.length(F.regexp_replace(col, r"[\p{Punct}]", ""))
    return (n_punct / F.greatest(F.length(col), F.lit(1))).cast("double")


def mean_word_length(col: Column) -> Column:
    ws = words(col)
    total = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return (total / F.greatest(F.size(ws), F.lit(1))).cast("double")


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation density (the classic Gopher/C4-style filters, reduced to
    deterministic arithmetic)."""
    n = token_count(col)
    length_ok = F.when((n >= 10) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = stopword_ratio(col)
    sw_ok = F.when((sw > 0.05) & (sw < 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return ((length_ok + sw_ok + punct_ok) / F.lit(3.0)).cast("double")


def lang_id(col: Column) -> Column:
    """Marker-word language heuristic: the language with the most marker hits
    wins; ties broken by fixed language order; no hits -> 'und'."""
    ws = words(F.lower(col))
    best_lang: Column = F.lit("und")
    best_hits: Column = F.lit(0)

    def marker_filter(markers: tuple[str, ...]):
        return lambda w: w.isin(*markers)

    for lang in sorted(LANG_MARKERS):  # deterministic order
        hits = F.size(F.filter(ws, marker_filter(LANG_MARKERS[lang])))
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def fingerprint(col: Column) -> Column:
    """Document fingerprint: hash of whitespace/case-normalized text
    (rolling-hash equivalent for exact near-whitespace dedup)."""
    # collapse BEFORE trim: trim() strips only spaces, so a tab-edged string
    # would otherwise normalize differently from its space-edged twin
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(normalized)


def html_strip(col: Column) -> Column:
    """HTML → text extraction (the Common-Crawl WET-style stage every web
    corpus runs before quality filtering): drop comments and script/style
    blocks wholesale, break block-level closers into newlines, strip the
    remaining tags, decode the core entities, collapse whitespace.

    Pure JVM regexp_replace chain — fuses into the scan, zero exchange,
    and every pattern is dialect-portable (no lookaround, so Java regex
    and RE2/DuckDB agree): an external engine can replay the extraction
    with the same pattern sequence. Entity decode order matters
    (&amp; LAST, so '&amp;lt;' decodes to '&lt;' not '<'); the whitespace
    collapse keeps line structure for downstream line-wise filters.

    Known limits (regex, not an HTML parser):
    - a ``>`` inside a quoted attribute value ends the tag early, so
      ``<a title="x>y">`` leaves ``y">`` in the text;
    - only the six entities above (``&lt; &gt; &quot; &#39; &nbsp; &amp;``)
      are decoded; any other named or numeric entity (``&eacute;``,
      ``&#233;``) stays encoded."""
    t = F.regexp_replace(col, r"(?s)<!--.*?-->", "")
    t = F.regexp_replace(t, r"(?is)<script\b[^>]*>.*?</script>", "")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style>", "")
    # block-level closers + <br> become line breaks, everything else a space
    t = F.regexp_replace(
        t, r"(?i)<(?:br\s*/?|/p|/div|/h[1-6]|/li|/tr|/title)>", "\n"
    )
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        t = F.regexp_replace(t, ent, rep)
    t = F.regexp_replace(t, r"[ \t\r]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{2,}", "\n")
    return F.trim(t)


# regex fragments shared by url_canonicalize and its documentation: tracking
# parameters every major pipeline strips (CCNet dedups on normalized URLs)
_URL_TRACKING = r"(?:utm_[a-z]+|fbclid|gclid|ref)"


def url_canonicalize(col: Column) -> Column:
    """URL canonicalization for URL-level dedup (the CCNet/RefinedWeb stage
    that collapses crawl duplicates before any content hashing): strip the
    fragment, lowercase scheme+authority, drop default ports (:80 http /
    :443 https), remove tracking query params (utm_*, fbclid, gclid, ref),
    tidy separator debris, drop a trailing slash.

    Contract: absolute http(s) URLs. Pure JVM expressions, no lookaround
    (RE2-portable). Tracking-param removal runs three passes because a
    global regexp_replace resumes AFTER each replacement and so misses
    back-to-back params; three passes canonicalize any run of <= 6
    adjacent tracking params — beyond that a URL keeps its tail (harmless:
    canonicalization is a dedup key, not a fetcher)."""
    auth = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
    u = F.trim(col)
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.concat(
        F.lower(F.regexp_extract(u, auth, 0)), F.regexp_replace(u, auth, "")
    )
    u = F.regexp_replace(u, r"^(http://[^/?#:]+):80([/?#]|$)", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#:]+):443([/?#]|$)", "$1$2")
    for _ in range(3):
        u = F.regexp_replace(u, r"([?&])" + _URL_TRACKING + r"=[^&#]*&", "$1")
    u = F.regexp_replace(u, r"[?&]" + _URL_TRACKING + r"=[^&#]*$", "")
    u = F.regexp_replace(u, r"\?&", "?")
    # one combined trailing-separator strip ([/?&]+$, not /$ then [?&]$):
    # the single-char forms were not idempotent ('p//' -> 'p/', 'p?/' ->
    # 'p?') and a canonical form must be a FIXED POINT to be a dedup key
    u = F.regexp_replace(u, r"[/?&]+$", "")
    return u


# two-level public-suffix subset for the registrable-domain heuristic; the
# full PSL is a plan-time broadcast table in a production deployment — the
# heuristic covers the dominant cases and is the documented contract here
_SECOND_LEVEL_TLDS = ("co", "com", "org", "net", "gov", "ac", "edu")


def url_host(col: Column) -> Column:
    """Lowercased host of an absolute http(s) URL (port dropped)."""
    return F.lower(
        F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)", 1)
    )


def registrable_domain(col: Column) -> Column:
    """Registrable ('eTLD+1') domain of a host: the last two labels, or the
    last three when the penultimate label is a common second-level suffix
    ('bbc.co.uk' -> 'bbc.co.uk', 'www.example.com' -> 'example.com').
    RE2-portable regexes so external engines replay the identical rule."""
    sl = "|".join(_SECOND_LEVEL_TLDS)
    last3 = F.regexp_extract(col, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    last2 = F.regexp_extract(col, r"([^.]+\.[^.]+)$", 1)
    is_sl = col.rlike(r"\.(" + sl + r")\.[a-z]{2}$")
    return F.when(is_sl & (last3 != ""), last3).otherwise(
        F.when(last2 != "", last2).otherwise(col)
    )


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked: Sequence[str],
    keep_col: str | None = None,
    domain_col: str | None = None,
) -> DataFrame:
    """URL blocklist filtering (the RefinedWeb/UT1-style front-door gate:
    drop every document whose registrable domain is on the list). The
    blocklist is a plan-time literal set (broadcast-sized by definition —
    even UT1's multi-million-entry list is MBs against a 100 TB corpus),
    so the gate is a scan-side isin/anti filter: no shuffle, no join
    exchange, fuses into the scan with the other quality gates.

    ``keep_col=None`` drops blocked rows; a column name instead annotates
    each row with the boolean verdict (audit mode). ``domain_col`` also
    exposes the registrable domain the verdict was computed from, so audits
    group on the SAME expression the gate evaluated.

    Unreadable URLs: a NULL URL and one with no ``scheme://host`` prefix
    ('', 'not a url') have no domain (``domain_col`` is NULL), and a
    domain that cannot be read is not on the list — the verdict is
    keep = True in both modes."""
    host = url_host(F.col(url_col))
    dom = F.when(host != "", registrable_domain(host))
    keep = F.coalesce(~dom.isin(*[b.lower() for b in blocked]), F.lit(True))
    out = df.withColumn(domain_col, dom) if domain_col is not None else df
    if keep_col is not None:
        return out.withColumn(keep_col, keep)
    return out.filter(keep)


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021, "Scaling Language Models",
# Table A1): duplicate-line fraction, duplicate-line character fraction, and
# the character mass of the most frequent word n-gram. Standard quality gates
# for pretraining corpora — docs dominated by boilerplate repetition get cut.
# ---------------------------------------------------------------------------


def _nonempty_lines(col: Column) -> Column:
    return F.filter(F.split(col, r"\n"), lambda l: F.trim(l) != "")


def dup_line_frac(col: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line:
    (n_lines - n_distinct) / n_lines. Pure array expressions — per-doc, no
    shuffle, fuses into the scan stage."""
    lines = _nonempty_lines(col)
    n = F.size(lines)
    return ((n - F.size(F.array_distinct(lines))) / F.greatest(n, F.lit(1))).cast("double")


def dup_line_char_mass(col: Column) -> Column:
    """Characters sitting in repeat occurrences of a line (long): sum over
    distinct lines of (count-1)*len(line). Sorted-run fold — array_sort the
    line array once per row, then add len(line) for every element equal to
    its predecessor: O(L log L) per doc and shuffle-free at any corpus
    size. The tempting filter-count-per-distinct form embeds the line split
    in the lambda body, which Spark re-evaluates per element (no CSE inside
    higher-order functions) — O(L·|text|) per doc."""
    return F.aggregate(
        F.array_sort(_nonempty_lines(col)),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("dup"),
        ),
        lambda acc, l: F.struct(
            l.alias("prev"),
            (
                acc["dup"]
                + F.when(l == acc["prev"], F.length(l).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dup"),
        ),
        lambda acc: acc["dup"],
    )


def dup_line_char_frac(col: Column) -> Column:
    """Fraction of characters sitting in repeat occurrences of a line:
    dup_line_char_mass over total line chars."""
    lines = _nonempty_lines(col)
    total = F.aggregate(lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l))
    return (dup_line_char_mass(col) / F.greatest(total, F.lit(1))).cast("double")


def word_ngrams(col: Column, n: int = 2) -> Column:
    """Space-joined word n-grams of the whitespace tokenization (array of
    strings; empty when the doc has < n words)."""
    return ngram_window(n, _joined, words(col))


def top_ngram_mass(col: Column, n: int = 2) -> Column:
    """Column (long): characters covered by the document's most frequent
    word n-gram — max over grams of count*len(gram).

    Scale shape: NO exchange at all. Gram frequency is a strictly per-
    document statistic and every document is one row, so the former
    explode -> groupBy(doc, gram) shuffle (12 bytes/position — the
    dominant exchange of the curation funnel, ~19 GB at 20M docs) moved
    entirely map-side: each position becomes a (xxhash64 of the n word
    hashes, joined-string length) struct, the per-row array is
    array_sort-ed (O(G log G)), and a single run-length F.aggregate fold
    tracks the best run mass (count*len == sum of len over the run). The
    naive all-pairs per-row alternative would be O(G²) for long docs;
    sorted runs are not.

    Counts — and therefore the max(count*len) result — are identical to
    grouping by the gram string barring a same-doc 64-bit collision
    (p ~ G²/2⁶⁵ per doc)."""
    # each window hashes and measures its own words: one array (the split)
    # in the window instead of a word-hash and a word-length array
    gram_structs = ngram_window(
        n,
        lambda g: F.struct(
            F.xxhash64(*[F.xxhash64(w) for w in g]).alias("h"),
            (sum(F.length(w) for w in g) + F.lit(n - 1)).alias("len"),
        ),
        words(col),
    )
    # equal hashes sort adjacent; the fold carries (prev hash, current run
    # mass, best run mass) — first element and run breaks hit the otherwise
    # branch because NULL/h-mismatch comparisons are non-true
    run_mass = lambda acc, s: (  # noqa: E731 — shared by two fold fields
        F.when(s["h"] == acc["ph"], acc["mass"] + s["len"]).otherwise(
            s["len"].cast("long")
        )
    )
    return F.aggregate(
        F.array_sort(gram_structs),
        F.struct(
            F.lit(None).cast("bigint").alias("ph"),
            F.lit(0).cast("long").alias("mass"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, s: F.struct(
            s["h"].alias("ph"),
            run_mass(acc, s).alias("mass"),
            F.greatest(acc["best"], run_mass(acc, s)).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def top_ngram_char_frac(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """DataFrame wrapper of top_ngram_mass: (id_col, top_ngram_chars,
    text_chars) per document — kept for callers that want the standalone
    relation; composable pipelines should use the column form directly
    (zero exchange either way)."""
    return df.select(
        F.col(id_col),
        top_ngram_mass(F.col(text_col), n).alias("top_ngram_chars"),
        F.length(F.col(text_col)).cast("long").alias("text_chars"),
    )


# PII patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, explicit classes only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


def pii_counts(col: Column, kinds: tuple[str, ...] = ("email", "ipv4", "phone")) -> dict[str, Column]:
    """Per-kind PII hit counts (``regexp_extract_all`` size — pure JVM,
    scan-side). The detection layer of a pretraining PII scrub."""
    return {k: F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[k]), 0)) for k in kinds}


def pii_redact(col: Column, kinds: tuple[str, ...] = ("email", "ipv4", "phone")) -> Column:
    """Replace every PII span with ``<KIND>`` (deterministic, idempotent —
    the mask tokens contain no digits or '@', so a second pass is a no-op).
    Column expression only: at 100 TB this is one regexp pass per kind
    fused into the scan, no UDF, no shuffle."""
    out = col
    for k in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"<{k.upper()}>")
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic per-stratum downsampling to target mix proportions (the
    static domain-reweighting step of a pretraining data recipe): a row is
    kept iff md5(id) mod `buckets` < rate(stratum) * buckets.

    Hash-gated, not random: reproducible across runs/engines, needs no seed
    state, and is a pure per-row filter — no shuffle, pushes past the scan at
    100 TB. External engines replay the exact admit set with their built-in
    md5 (DuckDB: ('0x' || substr(md5(id),1,15))::BIGINT)."""
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long") % buckets
    rate: Column = F.lit(float(default_rate))
    for k in sorted(rates):  # deterministic plan
        rate = F.when(F.col(strata_col) == k, F.lit(float(rates[k]))).otherwise(rate)
    # F.floor, NOT cast('long'): Spark's cast truncates but some replay
    # engines' CAST(double AS BIGINT) rounds (DuckDB), so a non-integral
    # rate*buckets would admit one extra bucket there — floor() means the
    # same expression in every engine for arbitrary rates.
    return df.filter(bucket < F.floor(rate * buckets))


def _hash_bucket(g: Column, n_buckets: int) -> Column:
    """``pmod(xxhash64(g), n_buckets)``: a string's bucket in [0, n_buckets).
    DuckDB replays it as ``xxhash64_sql(g)`` mod B (sources/sql_oracle)."""
    return F.pmod(F.xxhash64(g), F.lit(n_buckets).cast("long"))


def hashed_ngram_buckets(
    col: Column,
    n_buckets: int = 1024,
    ns: tuple[int, ...] = (1, 2),
) -> Column:
    """array<long>: every word n-gram (default unigrams + bigrams, each the
    space-joined words) hashed into [0, n_buckets) with ``_hash_bucket`` —
    the hashed feature space of DSIR (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling")."""
    ws = words(col)
    parts = [
        ngram_window(n, lambda g: _hash_bucket(_joined(g), n_buckets), ws)
        for n in ns
    ]
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def dsir_importance(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: Column,
    n_buckets: int = 1024,
    smoothing: float = 1.0,
    ns: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Per-document DSIR importance weight log p_target(x)/p_raw(x) under
    hashed n-gram bag-of-words models (Xie et al. 2023): the standard
    data-selection step that up-weights raw documents resembling a target
    domain. ``target`` is a boolean Column marking the target subset (e.g.
    lang == 'en'); the raw model is the whole input. Laplace ``smoothing``
    on both distributions. Returns (id_col, n_grams, dsir_weight); docs
    with zero grams drop out (no features, no weight).

    Scale shape: the only shuffle is the B-row bucket histogram, and the
    weight is a per-doc fold against a broadcast B-slot table
    (`_bucket_logratio_sums`, shared with `quality_classifier_logodds`)."""
    scored = _bucket_logratio_sums(
        df, text_col, id_col, target, n_buckets, ns, smoothing,
        lambda n, f: n,
    )
    return scored.select(id_col, "n_grams", F.col("__sum__").alias("dsir_weight"))


def _bucket_hist(feat: DataFrame, buckets: str, flag: str) -> DataFrame:
    """The bucket histogram of the hashed-bucket models: one row per bucket
    (``__b__``) with its occurrence count ``__n__`` and the count on rows
    whose boolean ``flag`` is true (``__f__``; NULL counts as false).
    explode → groupBy(bucket) is hash-aggregated map-side onto at most B
    keys per task, so B×tasks rows cross the shuffle whatever the corpus
    size."""
    return (
        feat.select(flag, F.explode(buckets).alias("__b__"))
        .groupBy("__b__")
        .agg(
            F.count(F.lit(1)).alias("__n__"),
            F.sum(F.when(F.col(flag), F.lit(1)).otherwise(F.lit(0))).alias("__f__"),
        )
    )


def _bucket_logratio_sums(
    df: DataFrame,
    text_col: str,
    id_col: str,
    flag: Column,
    n_buckets: int,
    ns: tuple[int, ...],
    smoothing: float,
    reference: Callable[[Column, Column], Column],
) -> DataFrame:
    """The hashed-bucket model of `dsir_importance` and
    `quality_classifier_logodds`: (id_col, n_grams, ``__sum__``) per doc
    with at least one gram, where ``__sum__`` adds the log ratio
    ``ln((c_flag(b)+a)/(N_flag+aB)) - ln((c_ref(b)+a)/(N_ref+aB))`` over
    the doc's gram buckets b (``hashed_ngram_buckets``). ``reference`` maps
    (all count, flagged count) to the reference distribution's count; it
    is applied per bucket and to the totals.

    One hash pass over the text is persisted and read by the histogram and
    the scoring scans. The empty-doc filter reads the cache: placed before
    the persist, Spark pushes it below the projection and hashes every gram
    a second time. The only shuffle is `_bucket_hist`; the per-bucket terms
    densify to one broadcast B-slot array (`_densify_counts`; keep B in
    DSIR's 10⁴-10⁵ range), and each doc's sum is an F.aggregate fold over
    its own buckets with O(1) indexing: no (doc, bucket) exchange and no
    driver collect."""
    from loongcollector_spark.functions.dedup import _track_persist

    feat = _track_persist(
        df.select(
            F.col(id_col),
            flag.alias("__flag__"),
            hashed_ngram_buckets(F.col(text_col), n_buckets, ns).alias("__bs__"),
        )
    ).filter(F.size("__bs__") > 0)
    hist = _bucket_hist(feat, "__bs__", "__flag__")
    tot = hist.agg(F.sum("__n__").alias("__nt__"), F.sum("__f__").alias("__ft__"))
    a = float(smoothing)
    ab = a * n_buckets

    def log_p(count: Column, total: Column) -> Column:
        return F.log((count + a) / (total + ab))

    n, f, nt, ft = (F.col(c) for c in ("__n__", "__f__", "__nt__", "__ft__"))
    terms = _densify_counts(
        hist.crossJoin(F.broadcast(tot)).select(
            "__b__",
            (log_p(f, ft) - log_p(reference(n, f), reference(nt, ft))).alias("__c__"),
        ),
        n_buckets,
        "__terms__",
    )
    return feat.crossJoin(F.broadcast(terms)).select(
        F.col(id_col),
        F.size("__bs__").cast("long").alias("n_grams"),
        F.aggregate(
            "__bs__",
            F.lit(0.0),
            lambda acc, b: acc + F.element_at(F.col("__terms__"), (b + 1).cast("int")),
        ).alias("__sum__"),
    )


def _densify_counts(hist: DataFrame, n_slots: int, out: str) -> DataFrame:
    """(bucket `__b__`, double value `__c__`) histogram → ONE row holding an
    n_slots-long array<double> indexed by bucket (0.0 for unseen buckets).
    Spark MapData lookups are linear scans, so folding per-gram element_at
    over a map would cost O(B) each; this one-row map→array conversion pays
    that once and scoring folds index in O(1)."""
    return (
        hist.agg(
            F.map_from_entries(
                F.collect_list(F.struct("__b__", "__c__"))
            ).alias("__m__")
        ).select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_slots - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("__m__"), i.cast("long")), F.lit(0.0)
                ),
            ).alias(out)
        )
    )


def lm_perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    train: Column,
    b_uni: int = 1024,
    b_big: int = 4096,
    bin_scale: int = 100,
) -> DataFrame:
    """CCNet-style LM-perplexity corpus partitioning (Wenzek et al. 2020):
    train a hashed-bigram language model on the ``train`` slice (CCNet's
    Wikipedia stand-in), score EVERY document by per-token cross-entropy
    under it, and split the corpus into head / middle / tail perplexity
    terciles — the classic "keep the head, drop the tail" curation gate.

    The model is add-one-smoothed over hashed vocabularies (unigram contexts
    in [0, b_uni), bigrams in [0, b_big)) — the hashing trick bounds the
    model to a broadcastable array pair regardless of corpus vocabulary, and
    the xxhash64 buckets (``_hash_bucket``) are replayable by external
    engines. Cross-entropy per doc =
    -(1/n) Σᵢ ln( (c(w_i w_{i+1})+1) / (c(w_i)+b_big) ) in nats.
    Docs with fewer than two words drop out (no bigrams, no score).

    Tercile assignment does NOT globally sort: per-doc scores quantize to
    ``floor(xent * bin_scale)`` bins (a bounded key space), the bin
    histogram's running sum yields exact cutoff bins c1/c2 (smallest bins
    covering ≥1/3 and ≥2/3 of docs), and the label is a per-row CASE against
    the two broadcast cutoffs. Scale shape: the only exchanges are the two
    training histograms and the score-bin histogram — all map-side combined
    onto bounded key spaces (≤b_uni / ≤b_big / ≤a few hundred bins); scoring
    itself is a per-row F.aggregate fold against the broadcast model arrays
    (no (doc,bucket) exchange, no per-row Python, no driver collect; the
    cumulative window runs over the bounded bin histogram only).

    Returns (id_col, n_bigrams:long, xent:double, ppl_bucket:string
    head|middle|tail).
    """
    from loongcollector_spark.functions.dedup import _track_persist

    text = F.col(text_col)
    # one hash pass per word position, reused by training and scoring scans;
    # docs without a bigram are dropped above the persist (as in
    # `_bucket_logratio_sums`), not by re-splitting the text below it
    feat = _track_persist(
        df.select(
            F.col(id_col),
            train.alias("__tr__"),
            hashed_ngram_buckets(text, b_uni, (1,)).alias("__u__"),
            hashed_ngram_buckets(text, b_big, (2,)).alias("__g__"),
        )
    ).filter(F.size("__g__") >= 1)
    training = feat.filter(F.col("__tr__"))

    def _hist(buckets: str) -> DataFrame:
        return _bucket_hist(training, buckets, "__tr__").select(
            "__b__", F.col("__n__").cast("double").alias("__c__")
        )

    model = _densify_counts(_hist("__u__"), b_uni, "__uc__").crossJoin(
        _densify_counts(_hist("__g__"), b_big, "__gc__")
    )
    # per-doc cross-entropy: fold over bigram positions i=1..n-1 (1-based),
    # context unigram is __u__[i], bigram is __g__[i] — O(1) array indexing
    # against the broadcast model
    scored = _track_persist(
        feat.crossJoin(F.broadcast(model)).select(
            F.col(id_col),
            F.size("__g__").cast("long").alias("n_bigrams"),
            (
                -F.aggregate(
                    F.sequence(F.lit(1), F.size("__g__")),
                    F.lit(0.0),
                    lambda acc, i: acc
                    + F.log(
                        (
                            F.element_at(
                                F.col("__gc__"),
                                (F.element_at(F.col("__g__"), i) + 1).cast(
                                    "int"
                                ),
                            )
                            + F.lit(1.0)
                        )
                        / (
                            F.element_at(
                                F.col("__uc__"),
                                (F.element_at(F.col("__u__"), i) + 1).cast(
                                    "int"
                                ),
                            )
                            + F.lit(float(b_big))
                        )
                    ),
                )
                / F.size("__g__")
            ).alias("xent"),
        )
    )
    sbin = F.floor(F.col("xent") * bin_scale).cast("int")
    hist = scored.select(sbin.alias("__sb__")).groupBy("__sb__").agg(
        F.count(F.lit(1)).alias("__c__")
    )
    # bounded bin space (≤ a few hundred rows) — the single-partition
    # cumulative window is over the HISTOGRAM, never over the corpus
    cum_w = Window.orderBy("__sb__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cuts = (
        hist.select(
            "__sb__",
            F.sum("__c__").over(cum_w).alias("__cum__"),
            F.sum("__c__").over(tot_w).alias("__n__"),
        ).agg(
            F.min(
                F.when(
                    F.col("__cum__") * 3 >= F.col("__n__"), F.col("__sb__")
                )
            ).alias("__c1__"),
            F.min(
                F.when(
                    F.col("__cum__") * 3 >= F.col("__n__") * 2,
                    F.col("__sb__"),
                )
            ).alias("__c2__"),
        )
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        F.col(id_col),
        "n_bigrams",
        "xent",
        F.when(sbin <= F.col("__c1__"), F.lit("head"))
        .when(sbin <= F.col("__c2__"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# C4-style cross-document repeated-span removal (Raffel et al. 2020, §2.2:
# "we discarded all but one of any three-sentence span occurring more than
# once in the data set") and RefinedWeb-style line-wise correction (Penedo
# et al. 2023, §3.1.2 / MassiveWeb Rae et al. 2021): the two standard
# SPAN-level curation passes — they edit documents instead of dropping them.
# ---------------------------------------------------------------------------


def c4_span_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C4 repeated-span removal at line granularity: every nonempty line that
    occurs more than once ANYWHERE in the corpus keeps only its first
    occurrence (ordered by (doc id, position) — deterministic, replayable),
    and each document's text is rebuilt from its surviving lines.

    Returns one row per input document:
    (id_col, text_clean, n_lines, n_removed) — a fully-deduped doc keeps an
    empty text_clean rather than vanishing, so the output stays 1:1 joinable
    with the input.

    Scale shape: three linear exchanges, no quadratic anywhere —
    1. the first-occurrence rule is a row_number window PARTITIONED BY the
       line hash (the span relation shuffles once on the span key; identical
       spans land together regardless of corpus size);
    2. reconstruction is a groupBy(id) of (pos, line) structs, sorted
       per-doc AFTER the shuffle (array_sort of an in-memory doc — docs are
       bounded, corpora are not);
    3. the 1:1 join back onto the doc spine reuses the id partitioning.
    Window state per span key is the duplicate count of that one span, so
    a pathological mega-duplicate (the classic boilerplate line in 10^9
    docs) is one hot key — AQE skew-split handles it, and only (id,pos,line)
    triples of THAT line sit in the partition, never whole documents."""
    lines = df.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(_nonempty_lines(F.col(text_col))).alias("__pos__", "__line__"),
    )
    w = Window.partitionBy("__line__").orderBy("__id__", "__pos__")
    kept = (
        lines.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .groupBy("__id__")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos__", "__line__"))),
                    lambda s: s["__line__"],
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("__n_kept__"),
        )
    )
    spine = df.select(
        F.col(id_col).alias("__id__"),
        F.size(_nonempty_lines(F.col(text_col))).cast("long").alias("n_lines"),
    )
    return (
        spine.join(kept, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("__n_kept__"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


# RefinedWeb line-correction rules (Penedo et al. 2023 Table 2 / MassiveWeb):
# a line is boilerplate when it is uppercase-dominated, letter-free, a short
# navigation item, or a social-media counter. Kept regex-simple on purpose —
# the SAME pattern strings must compile in Java (Spark rlike) and RE2
# (DuckDB regexp_matches) so the oracle replays them verbatim.
LINE_NAV_RE = (
    r"^(home|log ?in|sign ?(in|up)|menu|search|share|subscribe|"
    r"read more|skip to content|comments?)$"
)
LINE_COUNTER_RE = r"^[0-9]+ +(likes?|shares?|comments?|views?|points?)$"


def _line_is_boiler(line: Column) -> Column:
    letters = F.regexp_replace(line, "[^A-Za-z]", "")
    uppers = F.regexp_replace(line, "[^A-Z]", "")
    lower_trim = F.lower(F.trim(line))
    upper_dominated = (F.length(letters) > 0) & (
        F.length(uppers) / F.length(letters) > 0.6
    )
    no_letters = F.length(letters) == 0
    short_nav = (F.size(words(line)) <= 3) & lower_trim.rlike(LINE_NAV_RE)
    counter = lower_trim.rlike(LINE_COUNTER_RE)
    return upper_dominated | no_letters | short_nav | counter


def line_correction(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_removed_frac: float = 0.05,
) -> DataFrame:
    """RefinedWeb-style line-wise correction: strip boilerplate lines
    (uppercase-dominated, letter-free, short navigation items, social
    counters — `_line_is_boiler`), then flag the whole document for removal
    when the corrections deleted more than ``max_removed_frac`` of its
    characters (the paper's "if modifications remove >5% of the document,
    drop it entirely").

    Returns (id_col, text_clean, n_lines, n_removed, removed_char_frac,
    keep). Pure per-row array expressions — ZERO exchanges; the whole pass
    fuses into the scan stage, which is what makes line correction free at
    100 TB (it rides the same scan as the quality gates)."""
    lines = _nonempty_lines(F.col(text_col))
    kept = F.filter(lines, lambda l: ~_line_is_boiler(l))
    chars = lambda arr: F.aggregate(  # noqa: E731 — local one-liner
        arr, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    total = chars(lines)
    removed_frac = F.when(total > 0, (total - chars(kept)) / total).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        F.concat_ws("\n", kept).alias("text_clean"),
        F.size(lines).cast("long").alias("n_lines"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        removed_frac.cast("double").alias("removed_char_frac"),
        (removed_frac <= F.lit(float(max_removed_frac))).alias("keep"),
    )


def corpus_top_ngrams(
    df: DataFrame, text_col: str, n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word n-grams — the vocabulary/merge-table building
    primitive (BPE-style tokenizer training starts from exactly this table;
    it is also the corpus-level complement of the per-doc Gopher gram
    statistics). Returns (ngram, total_count, n_docs) for the k most
    frequent n-grams, ties broken by ngram ascending.

    Scale shape: ONE exchange — the (gram → counts) groupBy partially
    aggregates map-side, so only distinct-gram partials cross the shuffle
    (bounded by vocabulary, not corpus); the per-doc first-occurrence flag
    that feeds n_docs comes from sorted-run boundaries (array_sort + a
    shifted-self zip — linear per row, NOT array_position's O(G²) rescan);
    the top-k cut is TakeOrdered (per-partition top-k + driver merge),
    never a global sort."""
    grams = word_ngrams(F.col(text_col), n)
    # sort the per-doc grams, then a gram is "first in doc" iff it differs
    # from its predecessor — summing the flag counts distinct docs per gram
    # without a second (gram, doc) shuffle
    srt = F.array_sort(grams)
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(srt, 1, F.greatest(F.size(srt) - 1, F.lit(0))),
    )
    exploded = df.select(
        F.explode(
            F.zip_with(
                srt,
                prev,
                lambda g, p: F.struct(
                    g.alias("g"),
                    F.coalesce(g != p, F.lit(True)).cast("long").alias("first"),
                ),
            )
        ).alias("z")
    ).select(F.col("z.g").alias("ngram"), F.col("z.first").alias("first"))
    # a gram-less doc zips [] against [null] and emits one null gram — drop it
    exploded = exploded.filter(F.col("ngram").isNotNull())
    agg = exploded.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("total_count"),
        F.sum("first").alias("n_docs"),
    )
    return agg.orderBy(
        F.col("total_count").desc(), F.col("ngram")
    ).limit(k)


def quality_classifier_logodds(
    df: DataFrame,
    text_col: str,
    id_col: str,
    positive: Column,
    n_buckets: int = 2048,
    ns: tuple[int, ...] = (1, 2),
    smoothing: float = 1.0,
    threshold: float = 0.0,
) -> DataFrame:
    """GPT-3 / LLaMA-style model-based quality gate (Brown et al. 2020
    App. A; Touvron et al. 2023 "classifying pages used as references in
    Wikipedia"): train a bag-of-n-grams classifier with the ``positive``
    slice as the reference class and everything else as negatives, score
    every document, keep the ones that look like the reference class.

    The model is Naive-Bayes log-odds over the same hashed feature space as
    DSIR (`hashed_ngram_buckets`): per bucket b,
    ``w(b) = ln((c_pos(b)+a)/(N_pos+aB)) - ln((c_neg(b)+a)/(N_neg+aB))``,
    and the document score is the length-normalized MEAN of its grams'
    weights (fastText averages embeddings the same way, so doc length does
    not dominate the decision as it would under DSIR's importance SUM —
    that is the semantic difference between the two: DSIR reweights a
    sampler, this one makes a binary keep decision).

    Scale shape: the bucket model of `dsir_importance`
    (`_bucket_logratio_sums`) with the negatives as the reference
    distribution. Deterministic and externally replayable: xxhash64
    buckets, and the arithmetic is ln/div/mean only (DuckDB recomputes the
    identical score to the ulp in practice; the keep threshold compares the
    raw double).

    Returns (id_col, n_grams:long, quality_logodds:double, keep:boolean).

    Reference tie-in: the collector's include/exclude content filters
    (core/plugin/processor/ProcessorFilterNative.cpp:55-120) are the
    per-event keep/drop twins; this is the corpus-scale learned version of
    the same gate position in the pipeline (filter stage, pre-router).
    """
    # score in its own projection so the fold runs ONCE: Spark does not
    # common-subexpression-eliminate higher-order functions, and
    # CollapseProject keeps the multi-referenced score below `keep`
    scored = _bucket_logratio_sums(
        df, text_col, id_col, positive, n_buckets, ns, smoothing,
        lambda n, f: n - f,
    ).select(
        id_col, "n_grams", (F.col("__sum__") / F.col("n_grams")).alias("quality_logodds")
    )
    return scored.withColumn(
        "keep", F.col("quality_logodds") > F.lit(float(threshold))
    )
