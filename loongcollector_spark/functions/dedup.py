"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design:
- exact dedup is one hash-groupBy (map-side combine keeps the shuffle tiny —
  only (hash, min_id, count) partials move).
- n-gram Jaccard avoids the O(n²) cross join via an inverted shingle index:
  explode shingles → self-join on shingle → per-pair common counts. At 100TB
  add a document-frequency cut (drop shingles appearing in >df_max docs) —
  exposed as ``max_shingle_df``.
- MinHash+LSH: k permutations via (a*x+b) mod p over the gram hashes —
  pure column expressions; band b's key is the multi-column xxhash64 over
  the signature's longs b*r .. b*r+r-1 — the banding scheme from the MMDS
  literature, keyed on one long per band.
- SimHash: 64-bit signature from the same gram hashes; near-dup = small
  Hamming distance within LSH buckets on signature blocks.

One bucket join: every LSH finder (MinHash self-join and cross-corpus,
SimHash, and ``similarity.embedding_near_dups``) emits (id, rot, bucket)
rows with a long or int bucket and finds its candidates with
``_bucket_join``; each keeps its own score and filter (est_jaccard,
hamming, cos_sim).

One gram hash: MinHash and SimHash both hash grams with
``hashed_shingles`` (Spark's xxhash64 per word, then xxhash64 over the n
word hashes). The DuckDB oracles replay exactly that
(``sources/sql_oracle.xxhash64_sql`` / ``hash_long_sql``), so the path
every caller runs is the path the oracles verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from loongcollector_spark.functions.text import ngram_window, word_ngrams, words

# Mersenne prime 2^61-1 for the universal-hash permutations
_MERSENNE = (1 << 61) - 1

# Relations persisted by dedup plans (both sides of the self-joins reference
# them). Spark cannot unpersist lazily-correct at plan build time, so callers
# materialize the returned DataFrame and then call release_persisted() —
# otherwise repeated calls accumulate cached blocks until eviction pressure.
_PERSISTED: list[DataFrame] = []


def _track_persist(df: DataFrame) -> DataFrame:
    p = df.persist()
    _PERSISTED.append(p)
    return p


def release_persisted() -> None:
    """Unpersist every intermediate cached by dedup plan builders. Call after
    the returned DataFrame has been materialized (collect/write). Every
    tracked frame is unpersisted; the first failure is then raised."""
    first: Exception | None = None
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception as e:
            first = first or e
    if first is not None:
        raise first


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) of the lowercased text as an
    array<string>."""
    return F.array_distinct(word_ngrams(F.lower(col), n))


def hashed_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram hashes as array<long> WITHOUT materializing the
    shingle strings: hash each word once, then xxhash64 over the n
    consecutive word hashes per position (Spark's multi-column xxhash64:
    hashLong chained over the n longs, seed 42). A gram id is a 64-bit
    hash of the word sequence, like hashing the joined string, but
    allocation-free — no per-position slice/join strings, and the distinct
    runs over primitive longs. It is the one gram hash of MinHash and
    SimHash, and the one their DuckDB oracles replay. The window over the
    word-hash array is ``text.ngram_window``, which computes that array once
    per row."""
    wh = F.transform(words(F.lower(col)), lambda w: F.xxhash64(w))
    return F.array_distinct(ngram_window(n, lambda g: F.xxhash64(*g), wh))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct content,
    keeper = min id, dup_count recorded."""
    return (
        df.withColumn("__h__", F.md5(F.col(text_col)))
        .groupBy("__h__")
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .withColumnRenamed("__h__", "content_md5")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 256,
) -> DataFrame:
    """Near-dup pairs with n-gram Jaccard >= threshold, computed via an
    inverted shingle index (no cross join). Returns (id_a, id_b, jaccard)
    with id_a < id_b.

    ``max_shingle_df`` (document-frequency cut, DEFAULT 256) drops shingles
    appearing in more than that many docs from the candidate index: one
    boilerplate phrase shared by df docs otherwise yields O(df²) candidate
    pairs — a scale-killer at corpus size. The cut makes ``common`` (and thus
    jaccard) a lower bound for pairs whose overlap includes hot shingles;
    pass ``None`` only on corpora known to be boilerplate-free."""
    # shingling multiplies row volume ~(words)×: spread the input across the
    # cluster BEFORE the explosion, whatever the scan's file-split count was
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    sh = df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
    # the inverted index feeds both sides of the pair join, the df-cut, AND
    # the per-doc sizes: persist it so shingling runs exactly once (deriving
    # sizes from `sh` instead would re-shingle the corpus once per broadcast);
    # the explode drops docs without shingles
    inv = _track_persist(sh.select("id", _explode_hashes("sh").alias("g")))
    # shingles are distinct per doc, so n_sh == exploded row count
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_df:
        df_counts = inv.groupBy("g").count().filter(F.col("count") <= max_shingle_df)
        inv = inv.join(df_counts.select("g"), "g")
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # sizes is one row per doc (ids + one int) — broadcast both lookup joins
    # so the (potentially huge) candidate-pair set never shuffles for them
    return (
        pairs.join(F.broadcast(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a")), "id_a")
        .join(F.broadcast(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b")), "id_b")
        .withColumn(
            "jaccard",
            (F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_P31 = (1 << 31) - 1  # Mersenne prime 2^31-1: products of 31-bit values fit u64


def minhash_coeffs(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """The (a, b) universal-hash coefficients for the k permutations —
    exposed so oracle SQL can inline the exact same constants."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, _P31) for _ in range(num_hashes)]
    b = [rng.randrange(0, _P31) for _ in range(num_hashes)]
    return a, b


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH banding: candidate pairs that share at least one band.
    Returns (id_a, id_b, est_jaccard) where est_jaccard = fraction of equal
    signature positions (the MinHash estimate) over ``hashed_shingles``.

    No upfront repartition: shingle+hash runs on the scan partitions, and
    the signature groupBy's map-side combine means the only doc-count-sized
    shuffle moves (id, k longs) rows — never the text."""
    grams = _gram_hashes(df, text_col, id_col, n)
    return minhash_lsh_from_gram_hashes(grams, num_hashes, bands, seed)


def _gram_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gh:array<long>) shingle-hash relation, shared by the self-join
    dedup path and the cross-corpus decontamination path so their
    signatures can never diverge."""
    return df.select(
        F.col(id_col).alias("id"), hashed_shingles(F.col(text_col), n).alias("gh")
    )


def _explode_hashes(col: str) -> Column:
    """explode of a computed array column (gram hashes, shingles), computing
    the array once. Exploding a bare column makes Spark infer a
    ``size(col) > 0`` filter and push it below the projection that computes
    the array, where it re-evaluates the whole expression. ``concat(col)``
    is the same array but not a bare column, so no filter is inferred;
    explode drops empty and NULL arrays either way. (``coalesce(col, [])``
    is not enough: the optimizer reduces it to the bare column when ``col``
    cannot be NULL, as the ``text.ngram_window`` arrays cannot.)"""
    return F.explode(F.concat(F.col(col)))


def minhash_signatures(
    grams: DataFrame, num_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """(id, sig:array<long>) MinHash signatures, computed entirely JVM-side:
    explode the gram hashes and run k min-aggregates under whole-stage
    codegen. The groupBy gets map-side partial aggregation, so the shuffle
    (if the input isn't already hash-partitioned by id) moves only
    ids × k longs — never the gram rows. This replaced an Arrow pandas UDF
    that was ~7× slower end-to-end: the outer-product numpy formulation kept
    32 Python workers busier than the whole rest of the plan.

    Bit-exact with the previous numpy uint64 formulation: numpy reduced
    ``uint64(gh) % (2^31-1)``; for gh < 0 the uint64 view adds 2^64, and
    2^64 ≡ 4 (mod 2^31-1), hence the +4 branch below. Products then fit in
    62 bits, so plain signed-long arithmetic matches uint64 arithmetic."""
    a_l, b_l = minhash_coeffs(num_hashes, seed)
    p = F.lit(_P31)
    g = F.col("g")
    h31 = F.pmod(F.pmod(g, p) + F.when(g < 0, F.lit(4)).otherwise(F.lit(0)), p)
    exploded = grams.select("id", _explode_hashes("gh").alias("g")).select(
        "id", h31.alias("h")
    )
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a_l[k]) + F.lit(b_l[k]), p)).alias(f"_m{k}")
        for k in range(num_hashes)
    ]
    return (
        exploded.groupBy("id")
        .agg(*mins)
        .select("id", F.array(*[f"_m{k}" for k in range(num_hashes)]).alias("sig"))
    )


def _band_keys(sig: DataFrame, bands: int, rpb: int) -> DataFrame:
    """(id, rot, bucket) band keys from an (id, sig) signature relation:
    ``bucket`` is the multi-column xxhash64 over band ``rot``'s ``rpb``
    longs, so two docs share a key iff their band slices are equal (a 64-bit
    hash collision aside). One primitive long per band, no string built."""
    keys = [F.xxhash64(*[F.col("sig")[b * rpb + i] for i in range(rpb)]) for b in range(bands)]
    return sig.select("id", F.posexplode(F.array(*keys)).alias("rot", "bucket"))


def _bucket_join(a: DataFrame, b: DataFrame | None = None) -> DataFrame:
    """The candidate join of every LSH finder: rows of the (id, rot, bucket,
    ...) relations ``a`` and ``b`` that share a (rot, bucket) key, the sides
    aliased ``a`` and ``b``. Without ``b`` it is a self-join of ``a`` that
    keeps ``a.id < b.id``; a given ``b`` is the small side and broadcasts.
    Each finder scores and filters the rows itself."""
    if b is None:
        return a.alias("a").join(a.alias("b"), ["rot", "bucket"]).filter("a.id < b.id")
    return a.alias("a").join(F.broadcast(b.alias("b")), ["rot", "bucket"])


def _minhash_pairs(
    grams_a: DataFrame, grams_b: DataFrame | None, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """(id_a, id_b, est_jaccard) for every pair of docs sharing a band:
    within ``grams_a``, or between ``grams_a`` and the small ``grams_b``.

    The signatures are persisted: the band keys and the join-back both read
    them. The bucket join moves only (id, rot, bucket) rows; the k-long
    signatures are joined back onto the deduped pair set afterwards, so at
    b bands the join payload is 2 signatures per doc, not b."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rpb = num_hashes // bands
    sig_a = _track_persist(minhash_signatures(grams_a, num_hashes, seed))
    if grams_b is None:
        sig_b, keys_b = sig_a, None
    else:
        sig_b = _track_persist(minhash_signatures(grams_b, num_hashes, seed))
        keys_b = _band_keys(sig_b, bands, rpb)
    pairs = (
        _bucket_join(_band_keys(sig_a, bands, rpb), keys_b)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    side_b = sig_b.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    est = F.size(
        F.filter(F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(float(num_hashes))
    return (
        pairs.join(sig_a.select(F.col("id").alias("id_a"), F.col("sig").alias("sa")), "id_a")
        .join(side_b if grams_b is None else F.broadcast(side_b), "id_b")
        .select("id_a", "id_b", est.cast("double").alias("est_jaccard"))
    )


def minhash_lsh_from_gram_hashes(
    grams: DataFrame, num_hashes: int = 32, bands: int = 8, seed: int = 42
) -> DataFrame:
    """Banding over a precomputed (id, gh:array<long>) gram-hash relation —
    the shared core of the text and token-native MinHash paths."""
    return _minhash_pairs(grams, None, num_hashes, bands, seed)


def minhash_cross_candidates(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash+LSH candidates BETWEEN a
    training corpus and a benchmark relation (the near-dup counterpart to
    the exact-n-gram ops token_subseq_find_multi and the Bloom bitset —
    catches paraphrased/truncated test-set leakage those miss). Both inputs
    need (id_col, text_col); returns (corpus_id, bench_id, est_jaccard)
    for every pair sharing at least one signature band.

    The benchmark side is small by definition (thousands of rows against a
    10^12-row corpus), so its band keys and signatures broadcast. The
    signatures, band keys and estimate are the self-join path's, so the
    estimate is bit-identical to what dedup would report for the pair."""
    return _minhash_pairs(
        _gram_hashes(corpus, text_col, id_col, n),
        _gram_hashes(bench, text_col, id_col, n),
        num_hashes, bands, seed,
    ).select(
        F.col("id_a").alias("corpus_id"), F.col("id_b").alias("bench_id"), "est_jaccard"
    )


def simhash_signatures(grams: DataFrame, hashes_col: str = "gram_hashes") -> DataFrame:
    """(id, sig:long) SimHash signatures, computed entirely JVM-side: explode
    the gram hashes and take a per-bit majority vote as 64 sum-aggregates
    (map-side combine; no Python workers). Bit k of the signature is 1 iff
    strictly more than half the grams have bit k set; docs with no grams
    get sig=0 (restored by the left join on bare ids)."""
    exploded = grams.select("id", _explode_hashes(hashes_col).alias("h"))
    bits = [
        F.sum(F.shiftrightunsigned("h", k).bitwiseAND(F.lit(1))).alias(f"_b{k}")
        for k in range(64)
    ]
    agg = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("_n"), *bits)
    sig: Column | None = None
    for k in range(64):
        term = F.shiftleft((F.col(f"_b{k}") * 2 > F.col("_n")).cast("long"), k)
        sig = term if sig is None else sig.bitwiseOR(term)
    folded = agg.select("id", sig.alias("sig"))
    return grams.select("id").join(folded, "id", "left").select(
        "id", F.coalesce("sig", F.lit(0).cast("long")).alias("sig")
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    n_rotations: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs: bucket on a ``prefix_bits``-wide block of the
    signature (LSH), compare within buckets by Hamming distance.

    ``n_rotations`` banding blocks are probed (block r covers bits
    ``[64-(r+1)*prefix_bits, 64-r*prefix_bits)``; candidates are the union
    over blocks, deduped on the pair). Pigeonhole guarantee: with
    ``n_rotations >= max_hamming + 1`` and ``n_rotations * prefix_bits == 64``
    every pair within ``max_hamming`` collides in at least one block —
    recall 1.0 (e.g. the defaults max_hamming=3 with n_rotations=4 x 16
    bits). One rotation keeps the single-bucket behavior. The union is one
    equi-join on (rotation, block) — never all-pairs — so cost grows
    linearly in rotations, not quadratically in rows. No upfront
    repartition: the signature groupBy's map-side combine shuffles per-doc
    bit-count rows, never the text."""
    if n_rotations < 1 or n_rotations * prefix_bits > 64:
        raise ValueError("need 1 <= n_rotations and n_rotations*prefix_bits <= 64")
    # persisted for the same two-sided self-join reason as the MinHash path;
    # the gram hashes sit below it, so they run once whatever the rotations
    sig = _track_persist(simhash_signatures(_gram_hashes(df, text_col, id_col, n), "gh"))
    mask = (1 << prefix_bits) - 1
    blocks = F.array(
        *[
            F.shiftrightunsigned("sig", 64 - (r + 1) * prefix_bits)
            .bitwiseAND(F.lit(mask))
            for r in range(n_rotations)
        ]
    )
    bucketed = sig.select("id", "sig", F.posexplode(blocks).alias("rot", "bucket"))
    pairs = (
        _bucket_join(bucketed)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if n_rotations > 1:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → ``(id, cluster_id)`` with
    ``cluster_id = min(id)`` in the component. The missing last step of a
    dedup pipeline: pair finders (MinHash/SimHash/embedding LSH) emit edges;
    clustering turns them into keep/drop decisions that are CONSISTENT
    across transitive chains (a~b, b~c must collapse to one keeper even when
    (a,c) was never a candidate pair).

    Algorithm: min-label propagation. Each round every node takes the min
    of its own and its neighbors' labels; stop when no label moves. The
    edge list holds both directions of every pair and a self-loop on every
    node, so a node's edges reach its own label too, and a round is one
    edge-label join and one groupBy min. Round one reads the edge list
    alone: a node's label is ``least(id, min neighbor id)``, the min over
    its edges, with no label relation to join. Labels only decrease, so a
    round changed something iff some node's new label is below its own
    (the self-loop's) label; the count of such nodes is an ``Observation``
    filled by the job that checkpoints that round's labels (an eager
    action, local or reliable alike), not a separate count job.
    Rounds needed = component diameter, tiny for near-dup graphs
    (near-cliques: 2-3 rounds in practice). The edge list is persisted
    across rounds; each round's labels are localCheckpoint'ed, so a round's
    plan starts at the previous round's labels instead of nesting every
    earlier round (on a multi-node cluster use a reliable checkpoint dir
    instead of localCheckpoint for executor-loss tolerance). Driver work is
    O(iterations) observations, never row data. ``max_iterations`` counts
    round one, and must be at least 2: a later round is what confirms that
    round one's labels no longer move."""
    if max_iterations < 2:
        raise ValueError(f"connected_components needs max_iterations >= 2, got {max_iterations}")
    a, b = F.col(id_a), F.col(id_b)
    arcs = [(a, b), (b, a), (a, a), (b, b)]
    edges = _track_persist(
        pairs.select(F.inline(F.array(*[F.struct(s.alias("src"), d.alias("dst")) for s, d in arcs])))
        .distinct()
    )
    labels = edges.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("label"))
    own = F.min(F.when(F.col("src") == F.col("dst"), F.col("label")))
    # round one is not checked on its own: the round after it reports
    # whether any label still moves
    for _ in range(max_iterations - 1):
        obs = Observation()
        labels = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("label"), own.alias("own"))
            .observe(obs, F.count_if(F.col("label") < F.col("own")).alias("moved"))
            .localCheckpoint(eager=True)
        )
        if obs.get["moved"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_keepers(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-document keep/drop decision from a near-dup pair list: every doc
    gets its transitive ``cluster_id`` (docs in no pair are their own
    singleton cluster) and ``is_keeper`` = (id == min id of the cluster).
    Downstream filters ``is_keeper`` to materialize the deduped corpus.
    The component relation is tiny (only docs that appear in some pair), so
    the join back to the corpus is a broadcast in practice; the corpus
    itself is never shuffled."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    return (
        df.join(comp, df[id_col] == comp.id, "left")
        .select(
            df[id_col],
            F.coalesce(F.col("cluster_id"), df[id_col]).alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col(id_col) == F.col("cluster_id"))
    )
