"""Field extraction directly over token arrays — the north-rule fast path.

The reference's parsers pull fields out of a raw string
(ProcessorParseRegexNative.cpp:181-248 and friends). Over a PRE-TOKENIZED
sequence table the same structural extraction can skip string materialization
entirely: header tokens at known positions select field values
(``token_field_extract``, pure JVM expressions — ``element_at`` + ``pmod`` +
literal-array indexing, whole-stage codegen), and pattern matching becomes
token-subsequence search (``token_subseq_find``, vectorized numpy over Arrow
batches — the grok analogue on token ids).

At 10^12 sequences this is the difference between moving ~100 bytes of
rendered text per row through a regex engine and reading 8 int32s that are
already columnar: the detok render + string parse exists for parity with the
reference's semantics, this module is what the same pipeline looks like when
the engine is allowed to exploit the token representation.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TokenField:
    """One field = tokens[position] % modulus, optionally mapped through a
    small vocabulary (plan-time constant, like a grok pattern dictionary)."""

    position: int  # 0-based index into the token array
    modulus: int | None = None
    vocab: Sequence[str] | None = None  # value = vocab[token % len(vocab)]
    cast: str | None = None  # spark type for the numeric form


def token_field_extract(
    df: DataFrame,
    tokens_col: str,
    fields: Mapping[str, TokenField],
) -> DataFrame:
    """Project named fields out of the token array with pure JVM expressions.
    No UDF, no string round-trip: ``element_at`` is O(1) per field and the
    whole projection fuses into one codegen stage."""
    out = df
    for name, spec in fields.items():
        tok: Column = F.element_at(F.col(tokens_col), spec.position + 1).cast("long")
        if spec.vocab is not None:
            idx = F.pmod(tok, F.lit(len(spec.vocab)))
            expr = F.element_at(F.array(*[F.lit(v) for v in spec.vocab]), idx.cast("int") + 1)
        else:
            expr = F.pmod(tok, F.lit(spec.modulus)) if spec.modulus else tok
            if spec.cast:
                expr = expr.cast(spec.cast)
        out = out.withColumn(name, expr)
    return out


def token_subseq_find(
    df: DataFrame,
    tokens_col: str,
    pattern: Sequence[int],
    dest: str = "match_pos",
) -> DataFrame:
    """First occurrence (0-based) of a token-id subsequence per row, -1 if
    absent — the grok-style 'match' primitive over token arrays: the
    one-pattern case of :func:`token_subseq_find_multi`."""
    out = token_subseq_find_multi(df, tokens_col, [pattern], dest)
    return out.withColumn(dest, F.get(F.col(dest), 0))


def token_rollup(
    df: DataFrame,
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
) -> Column:
    """Order-insensitive token-payload digest used for token-array equality
    at scale (SURVEY §7.3 hard part 5): xxhash64 per row, bit_xor folded."""
    return F.bit_xor(F.xxhash64(F.col(tokens_col).cast("array<int>").cast("string")))


def token_exact_dedup(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on TOKEN-ARRAY EQUALITY — the per-row invariant the north
    rule verifies against the reference. Pure groupBy on the array column:
    partial aggregation runs map-side, so only one (tokens, min-id, count)
    partial per distinct sequence per partition crosses the shuffle.

    Returns (keeper_id, dup_count) — keeper = min id among equal sequences.

    Scale note: the distinct token arrays themselves ride the shuffle
    (~4·n_tok bytes each). For multi-KB sequences where even that is too
    much, pre-aggregate on ``xxhash64(tokens)`` and keep the array only for
    an equality re-check within hash groups — at header widths (8-64
    tokens) the direct groupBy is both exact and cheaper."""
    return (
        df.groupBy(tokens_col)
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop(tokens_col)
    )


def token_gram_hashes(
    tokens: Column, n: int = 3, vocab_bits: int = 16
) -> Column:
    """Distinct n-gram hashes straight off a token array — NO string
    round-trip: window i packs its n token ids positionally in base
    2^vocab_bits (exact and collision-free while every id < 2^vocab_bits and
    n*vocab_bits <= 62; ANSI-overflow-safe by construction). Pure JVM
    (slice + aggregate), fuses into whole-stage codegen. The token analogue
    of dedup.shingles() for pre-tokenized corpora."""
    if n * vocab_bits > 62:
        raise ValueError("n * vocab_bits must be <= 62 to stay in a long")
    base = 1 << vocab_bits
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(tokens, i + 1, n),
            F.lit(0).cast("long"),
            lambda acc, x: acc * base + x.cast("long"),
        ),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= n, grams).otherwise(
            F.array().cast("array<long>")
        )
    )


def token_window_hashes(
    tokens: Column, w: int, base: int = 1_000_003, mod: int = (1 << 31) - 1
) -> Column:
    """Polynomial hash of every w-token window (``array<long>``) — the
    primitive for cross-document exact-substring detection (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better': repeated
    ≥w-token spans across docs are the unit of substring dedup).

    Pure JVM (slice + aggregate fold, whole-stage codegen), no UDF. Exact
    arithmetic: acc < mod < 2^31 and base ~2^20, so acc*base + t < 2^52 —
    no overflow under ANSI. O(n·w) per row; at w=32+ a production variant
    would carry the O(n) rolling form (subtract-leading-term), but the
    windows stay per-row either way so the cost is scan-side and
    shuffle-free."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - w, F.lit(0)))
    hashes = F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(tokens, i + 1, w),
            F.lit(0).cast("long"),
            lambda acc, x: F.pmod(acc * base + x.cast("long"), F.lit(mod)),
        ),
    )
    return F.when(F.size(tokens) >= w, hashes).otherwise(
        F.array().cast("array<long>")
    )


def token_repeated_substrings(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    w: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated token substrings: every w-token window that
    appears in ≥ ``min_docs`` distinct documents, as ``(gram_hash, n_docs)``.

    The inverted-index shape shared with the shingle dedup engine: windows
    are hashed per row (scan-side, JVM), de-duplicated WITHIN the row
    (``array_distinct`` — a doc repeating its own phrase doesn't inflate
    df), then exploded into a (hash → doc-count) groupBy whose partial
    aggregation runs map-side, so only (hash, count) pairs cross the
    shuffle — never the windows or payloads. The df distribution this
    emits is exactly the evidence the df-cut policy needs at corpus scale."""
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(token_window_hashes(F.col(tokens_col), w))
        ).alias("gram_hash"),
    )
    return (
        grams.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def token_subseq_find_multi(
    df: DataFrame,
    tokens_col: str,
    patterns: Sequence[Sequence[int]],
    dest: str = "match_pos",
) -> DataFrame:
    """First occurrence of EACH of K token-id subsequences per row, as an
    ``array<int>`` aligned with ``patterns`` (-1 where absent) — the
    benchmark-decontamination primitive: one Arrow transfer of the token
    column serves every pattern (vs K transfers for K single-pattern calls),
    and the flatten/offset bookkeeping is shared; per pattern the scan is
    one vectorized rolling compare over the whole batch."""
    pats = [np.asarray(list(p), dtype=np.int64) for p in patterns]
    if not pats or any(len(p) == 0 for p in pats):
        raise ValueError("need at least one non-empty pattern")
    n_pat = len(pats)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def find(tok: pd.Series) -> pd.Series:
        lengths = tok.map(lambda v: 0 if v is None else len(v)).to_numpy(dtype=np.int64)
        n_rows = len(tok)
        res = np.full((n_rows, n_pat), -1, dtype=np.int32)
        if lengths.sum() == 0:
            return pd.Series(list(res))
        flat = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in tok if v is not None and len(v)]
        )
        ends = np.cumsum(lengths)
        starts = ends - lengths
        for k, pat in enumerate(pats):
            m = len(pat)
            valid = len(flat) - m + 1
            if valid <= 0:
                continue
            hit = np.ones(valid, dtype=bool)
            for j in range(m):
                hit &= flat[j : j + valid] == pat[j]
            p = np.flatnonzero(hit)
            if not len(p):
                continue
            row_of = np.searchsorted(ends, p, side="right")
            in_row = p + m <= ends[row_of]
            p, row_of = p[in_row], row_of[in_row]
            if len(p):
                rows_u, first_i = np.unique(row_of, return_index=True)
                res[rows_u, k] = (p[first_i] - starts[rows_u]).astype(np.int32)
        return pd.Series(list(res))

    return df.withColumn(dest, find(F.col(tokens_col)))


def token_pack_chunks(
    df: DataFrame,
    chunk_len: int = 2048,
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    partition_by: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end to end in a
    deterministic order and cut the stream every ``chunk_len`` tokens — the
    standard pretraining packing step (each chunk becomes one fixed-length
    training sequence; a document straddling a cut contributes a slice to
    each side).

    Returns one row per (document x chunk it overlaps):
    ``(pack_key?, chunk_id, doc_id, slice_tokens)`` rolled up by the caller,
    or aggregate per chunk via the companion query.

    Scale shape: the cumulative offset is a window sum. With
    ``partition_by`` (the production path) packing runs INDEPENDENTLY per
    pack key (shard/source/worker), so the sort is per-key inside a hash
    shuffle — no global total order, no skew beyond the key's own mass, and
    the layout matches how a 1000-executor job would pack: each executor
    packs its shard. ``partition_by=None`` gives the single-stream layout
    (global range sort — fine for one shard, not the 100 TB default)."""
    from pyspark.sql.window import Window

    # id_col tiebreak + explicit ROWS frame: the default frame is RANGE, under
    # which tied order values share one cumulative _end and the spans overlap
    order = [order_col, id_col] if order_col else [id_col]
    w = (
        Window.partitionBy(partition_by).orderBy(*order)
        if partition_by
        else Window.orderBy(*order)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n = F.col(n_tok_col).cast("long")
    end = F.sum(n).over(w)
    rows = (
        df.filter(n > 0)
        .withColumn("_end", end)
        .withColumn("_start", F.col("_end") - n)
    )
    first_c = F.floor(F.col("_start") / chunk_len)
    last_c = F.floor((F.col("_end") - 1) / chunk_len)
    spans = rows.withColumn("chunk_id", F.explode(F.sequence(first_c, last_c)))
    lo = F.greatest(F.col("_start"), F.col("chunk_id") * chunk_len)
    hi = F.least(F.col("_end"), (F.col("chunk_id") + 1) * chunk_len)
    out = spans.withColumn("slice_tokens", (hi - lo).cast("long")).drop(
        "_start", "_end"
    )
    return out


def token_pack_bestfit(
    df: DataFrame,
    capacity: int = 2048,
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    shard_col: str = "source",
) -> DataFrame:
    """Best-Fit-Decreasing sequence packing (Ding et al. 2024, "Fewer
    Truncations Improve Language Modeling"): instead of concatenating
    documents and cutting every ``capacity`` tokens (token_pack_chunks —
    which truncates whatever straddles a cut), pack whole documents into
    fixed-capacity bins so only documents LONGER than the capacity are ever
    split. Two phases, exactly the paper's:

    1. pre-chunk: a document of n tokens becomes ceil(n/capacity) pieces —
       floor(n/capacity) full pieces plus a remainder — pure JVM
       explode(sequence), no Python;
    2. BFD: per shard, pieces sorted by (size DESC, doc_id, piece_id) are
       placed greedily into the bin with the SMALLEST remaining capacity
       that still fits (lowest bin index on ties); no fit opens a new bin.

    Returns one row per piece: (shard, doc_id, piece_id, piece_tokens,
    bin_id), shard and doc_id cast to string (any input type accepted).
    Every bin's fill is <= capacity and only oversize documents
    are split, so the truncation count is exactly the paper's guarantee.

    Scale shape: bin packing is inherently sequential WITHIN a bin set, so
    the unit of parallelism is the shard — the production layout packs one
    shard per executor core exactly like token_pack_chunks's partition_by
    path (hash shuffle on shard, per-shard work independent). The inner
    loop is one numpy mask/argmin per piece over the open-bin capacities
    (O(pieces x bins) worst case per shard; a segment tree drops that to
    O(pieces log bins) if a single shard ever holds millions of pieces —
    shard sizing keeps that bounded long before the asymptotics matter).
    Nothing global: no driver state, no collect, shard skew is the only
    skew and it is the caller's shard-key choice."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    n = F.col(n_tok_col).cast("long")
    full = F.floor(n / capacity)
    n_pieces = F.ceil(n / F.lit(float(capacity))).cast("long")
    # shard/doc_id cast to string up front: the applyInPandas schema below
    # declares string fields, so a BIGINT id column must not reach Arrow
    # as int64 (ArrowTypeError mid-job); casting here keeps the operator
    # type-agnostic like token_pack_chunks
    pieces = (
        df.filter(n > 0)
        .select(
            F.col(shard_col).cast("string").alias("shard"),
            F.col(id_col).cast("string").alias("doc_id"),
            n.alias("_n"),
            full.alias("_full"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_pieces - 1)).alias(
                "piece_id"
            ),
        )
        .select(
            "shard",
            "doc_id",
            "piece_id",
            F.when(F.col("piece_id") < F.col("_full"), F.lit(capacity))
            .otherwise(F.col("_n") % capacity)
            .cast("long")
            .alias("piece_tokens"),
        )
    )

    def bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["piece_tokens", "doc_id", "piece_id"],
            ascending=[False, True, True],
            kind="mergesort",
        ).reset_index(drop=True)
        sizes = pdf["piece_tokens"].to_numpy(dtype=np.int64)
        caps = np.empty(len(pdf), dtype=np.int64)
        bins = np.empty(len(pdf), dtype=np.int64)
        n_bins = 0
        for i in range(len(sizes)):
            s = sizes[i]
            view = caps[:n_bins]
            fit = np.flatnonzero(view >= s)
            if len(fit):
                # smallest remaining capacity that fits; argmin returns the
                # FIRST minimal index, so ties break to the lowest bin id —
                # the same rule the DuckDB oracle's list_position applies
                j = fit[np.argmin(view[fit])]
                caps[j] -= s
                bins[i] = j
            else:
                caps[n_bins] = capacity - s
                bins[i] = n_bins
                n_bins += 1
        out = pdf.copy()
        out["bin_id"] = bins
        return out

    schema = (
        "shard string, doc_id string, piece_id long, "
        "piece_tokens long, bin_id long"
    )
    return pieces.groupBy("shard").applyInPandas(bfd, schema=schema)


def token_minhash_lsh(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    vocab_bits: int = 16,
) -> DataFrame:
    """MinHash+LSH near-dup candidates over TOKEN ARRAYS (the tokens-axis
    dedup path): gram hashes are exact positional packings of token-id
    windows (token_gram_hashes), signatures and banding reuse the text
    engine's machinery (dedup.minhash_lsh_from_gram_hashes). Returns
    (id_a, id_b, est_jaccard). Compared to detok-then-shingle, this skips
    string materialization entirely — the only non-JVM step is the one
    numpy signature UDF over Arrow batches."""
    from loongcollector_spark.functions.dedup import minhash_lsh_from_gram_hashes

    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        token_gram_hashes(F.col(tokens_col), n, vocab_bits).alias("gh"),
    ).filter(F.size("gh") > 0)
    return minhash_lsh_from_gram_hashes(grams, num_hashes, bands, seed)


def token_substring_dedup(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    w: int = 4,
) -> DataFrame:
    """Cross-document exact-substring REMOVAL (Lee et al. 2022 §4 ExactSubstr:
    "when two documents share a sufficiently long substring we remove one of
    them" — their released tool cuts the repeated span itself and keeps the
    rest of the doc, which is what this does). Completes the detection unit
    (`token_repeated_substrings`): every w-token window whose polynomial hash
    occurs MORE THAN ONCE corpus-wide keeps only its first occurrence
    (ordered by (id, pos) — deterministic), every later occurrence's
    [pos, pos+w) span is marked cut, a doc's cut spans union (overlaps
    merge implicitly), and the token array rebuilds from uncovered
    positions.

    Returns one row per input doc: (id_col, n_tok, n_removed, tokens_clean)
    — docs with no repeats pass through intact, fully-covered docs keep an
    empty array (the caller's length filter drops them, as in the paper).

    Scale shape — the same three linear exchanges as the C4 span pass:
    1. first-occurrence rule = row_number window partitioned by the window
       hash (only (id, pos, hash) triples shuffle, never token payloads;
       a boilerplate mega-span is one hot key, AQE-splittable);
    2. per-doc cut-start collection = groupBy(id) of flagged positions;
    3. the 1:1 spine join brings cut starts back to the token arrays.
    The rebuild itself is per-row JVM: position p survives iff no cut start
    s has s <= p < s+w — O(n_tok · n_cuts) per doc via exists() over the
    sorted cut array (n_cuts is bounded by n_tok/1 but in practice tiny; a
    delta-mark + running-sum fold is the O(n_tok + n_cuts) form if a corpus
    ever has pathological per-doc cut counts)."""
    from pyspark.sql import Window

    toks = F.col(tokens_col)
    # token_window_hashes returns an EMPTY array for size<w docs, so the
    # posexplode drops them from the window relation and they pass through
    # the spine join untouched
    wins = df.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(token_window_hashes(toks, w)).alias("__pos__", "__h__"),
    )
    rn = F.row_number().over(
        Window.partitionBy("__h__").orderBy("__id__", "__pos__")
    )
    cuts = (
        wins.withColumn("__rn__", rn)
        .filter(F.col("__rn__") > 1)
        .groupBy("__id__")
        .agg(F.sort_array(F.collect_list("__pos__")).alias("__cuts__"))
    )
    spine = df.select(F.col(id_col).alias("__id__"), toks.alias("__toks__"))
    joined = spine.join(cuts, "__id__", "left").withColumn(
        "__cuts__", F.coalesce(F.col("__cuts__"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("__toks__"),
        lambda x, p: ~F.exists(
            F.col("__cuts__"), lambda s: (s <= p) & (p < s + w)
        ),
    )
    return joined.select(
        F.col("__id__").alias(id_col),
        F.size("__toks__").cast("long").alias("n_tok"),
        (F.size("__toks__") - F.size(kept)).cast("long").alias("n_removed"),
        kept.alias("tokens_clean"),
    )


def token_pair_counts(
    df: DataFrame,
    tokens_col: str = "tokens",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the merge-candidate
    statistic of BPE/WordPiece tokenizer training (Sennrich et al. 2016 §3:
    "count all symbol pairs and replace each occurrence of the most frequent
    pair"). One row per distinct (a, b) with ``pair_count``; with ``top_k``
    the result is the deterministic head ordered by
    (count DESC, a, b) — the candidate list a merge-selection loop consumes.

    Scale shape: the pair relation is built with pure JVM expressions — two
    shifted ``slice``s of the token array ``arrays_zip``ped and exploded —
    so pair extraction fuses into the scan (no UDF, no string render). The
    groupBy is map-side combined: at most |alphabet|^2 partial rows per
    task cross the shuffle regardless of corpus size, and ``top_k`` lowers
    to TakeOrderedAndProject (per-partition heads, no global sort).
    Counting is a pure count — the reference analogue is the
    content-value-group aggregator (aggregator_content_value_group) with
    the group key being the token bigram."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    # ANSI guard: slice length must be >= 0, so gate the 2-token minimum
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("a"),
            F.slice(toks, 2, n - 1).alias("b"),
        ),
    ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
    exploded = df.select(F.explode(pairs).alias("p")).select("p.a", "p.b")
    counts = exploded.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("pair_count")
    )
    if top_k is not None:
        counts = counts.orderBy(
            F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(top_k)
    return counts


def token_bpe_merge(
    df: DataFrame,
    pair: tuple[int, int],
    new_id: int,
    tokens_col: str = "tokens",
    dest: str | None = None,
) -> DataFrame:
    """Apply ONE BPE merge across the corpus: every left-to-right greedy,
    non-overlapping occurrence of adjacent pair ``(a, b)`` in each token
    array is replaced by ``new_id`` — the per-iteration rewrite step of
    tokenizer training, and the primitive for re-tokenizing a corpus under
    an extended merge table. Greedy semantics match the standard BPE rule:
    for ``a == b`` a run ``aaa`` merges the FIRST pair only (-> ``[new,
    a]``); for ``a != b`` matches can never overlap.

    Vectorized over Arrow batches — the whole batch flattens to one int64
    vector, matches are two shifted equality compares, run-parity handles
    the ``a == b`` overlap chain, and the rebuilt arrays come from a single
    boolean-mask deletion; no per-row Python in the match/rewrite math.
    Payload moves once through the UDF straight off the scan (project the
    merge before any shuffle)."""
    a, b = int(pair[0]), int(pair[1])
    nid = int(new_id)
    dest = dest or tokens_col

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def merge(tok: pd.Series) -> pd.Series:
        present = [np.asarray(v, dtype=np.int64) for v in tok if v is not None]
        lengths = np.array(
            [0 if v is None else len(v) for v in tok], dtype=np.int64
        )
        if lengths.sum() == 0:
            return pd.Series(
                [None if v is None else [] for v in tok], dtype=object
            )
        flat = np.concatenate([v for v in present if len(v)] or [np.empty(0, np.int64)])
        ends = np.cumsum(lengths)
        p = np.flatnonzero((flat[:-1] == a) & (flat[1:] == b))
        if len(p):
            # a match must live entirely inside one row: p+1 < row end
            row_of = np.searchsorted(ends, p, side="right")
            p = p[p + 2 <= ends[row_of]]
        if len(p) and a == b:
            # greedy left-to-right inside runs of consecutive matches:
            # keep every other start, beginning at each run's first
            run_break = np.empty(len(p), dtype=bool)
            run_break[0] = True
            run_break[1:] = np.diff(p) > 1
            run_id = np.cumsum(run_break) - 1
            run_start = p[np.flatnonzero(run_break)][run_id]
            p = p[(p - run_start) % 2 == 0]
        out_rows: list = []
        if len(p):
            row_of = np.searchsorted(ends, p, side="right")
            flat = flat.copy()
            flat[p] = nid
            keep = np.ones(len(flat), dtype=bool)
            keep[p + 1] = False
            new_len = lengths - np.bincount(row_of, minlength=len(lengths))
            flat = flat[keep]
        else:
            new_len = lengths
        bounds = np.cumsum(new_len)[:-1]
        pieces = np.split(flat.astype(np.int32), bounds)
        it = iter(pieces)
        for v in tok:
            piece = next(it)
            out_rows.append(None if v is None else piece)
        return pd.Series(out_rows, dtype=object)

    return df.withColumn(dest, merge(F.col(tokens_col)))


def bpe_train(
    df: DataFrame,
    n_merges: int,
    tokens_col: str = "tokens",
    start_id: int | None = None,
    checkpoint_every: int = 1,
    spill_dir: str | None = None,
) -> tuple[list[tuple[int, int, int, int]], DataFrame]:
    """Train ``n_merges`` BPE merges over the corpus (Sennrich et al. 2016
    algorithm 1): each iteration counts all adjacent pairs corpus-wide,
    picks the winner deterministically (count DESC, a, b — the same
    tie-break the reference statistic ships), assigns it the next symbol
    id, and rewrites every greedy non-overlapping occurrence. Returns
    ``([(a, b, new_id, pair_count), ...], final_corpus_df)``.

    Scale shape: the loop is O(n_merges) DRIVER-side control flow — each
    iteration is one bounded-shuffle distributed job (pair stats: at most
    |alphabet|^2 map-side-combined partials cross the wire; the winner is a
    1-row collect) plus one Exchange-free Arrow rewrite pass. Lineage is
    truncated every ``checkpoint_every`` iterations — without it the plan
    chains n_merges pandas UDFs and re-executes the whole history each
    count — via ``localCheckpoint`` (in-memory, single-app) or, when
    ``spill_dir`` is set, a parquet round-trip (durable across executor
    loss on a real cluster; preferred for large n_merges).

    ``start_id`` defaults to ``max(token) + 1`` (one extra bounded agg)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    cur = df
    if start_id is None:
        mx = cur.select(F.max(F.array_max(F.col(tokens_col)))).first()[0]
        if mx is None:
            raise ValueError(
                "bpe_train: corpus has no tokens — pass start_id explicitly "
                "or train on a non-empty corpus"
            )
        start_id = int(mx) + 1
    merges: list[tuple[int, int, int, int]] = []
    prev_spill: str | None = None
    for step in range(n_merges):
        top = token_pair_counts(cur, tokens_col=tokens_col, top_k=1).first()
        if top is None:
            break
        a, b, cnt = int(top["a"]), int(top["b"]), int(top["pair_count"])
        nid = start_id + step
        merges.append((a, b, nid, cnt))
        cur = token_bpe_merge(cur, (a, b), nid, tokens_col=tokens_col)
        if (step + 1) % max(checkpoint_every, 1) == 0 or step == n_merges - 1:
            if spill_dir is not None:
                path = os.path.join(spill_dir, f"bpe_iter_{step}")
                cur.write.mode("overwrite").parquet(path)
                cur = cur.sparkSession.read.parquet(path)
                # The previous snapshot is unreferenced once this write is
                # durable — drop it so spill usage stays O(1) corpus copies
                # instead of O(n_merges / checkpoint_every).
                if prev_spill is not None and prev_spill != path:
                    _hadoop_rmtree(cur.sparkSession, prev_spill)
                prev_spill = path
            else:
                cur = cur.localCheckpoint()
    return merges, cur


def _hadoop_rmtree(spark, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem API — scheme-agnostic
    (local / HDFS / object store), best-effort: a failed cleanup must never
    fail the training loop."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)
    except Exception:  # pragma: no cover - cleanup is advisory
        pass


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[int, int, int]] | list[tuple[int, int, int, int]],
    tokens_col: str = "tokens",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Re-tokenize a corpus under a learned merge table: apply each
    ``(a, b, new_id)`` in table order (BPE merge priority IS table order).
    The inverse guarantee is tested property-side: expanding every new_id
    back in reverse order recovers the original corpus. Lineage is cut
    every ``checkpoint_every`` merges to keep the chained-UDF plan flat."""
    cur = df
    for i, m in enumerate(merges):
        a, b, nid = int(m[0]), int(m[1]), int(m[2])
        cur = token_bpe_merge(cur, (a, b), nid, tokens_col=tokens_col)
        if (i + 1) % max(checkpoint_every, 1) == 0:
            cur = cur.localCheckpoint()
    return cur
