"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k against a query vector — the baseline.
  The dot product is a JVM ``aggregate``/``zip_with`` expression (no Python),
  so the scan parallelizes perfectly; top-k is a single ``orderBy + limit``
  which Spark executes as per-partition top-k + driver merge (TakeOrdered).
- lsh_bucketed_topk: the scale path — random-hyperplane LSH buckets shrink
  the candidate set before exact re-scoring; probes multiple buckets for
  recall. The hyperplanes are plan-time constants (seeded), so the bucket id
  is a pure column expression and the bucket join prunes by partition.
- ivf_topk: IVF-style variant — k-means-ish centroids sampled at plan time;
  each row is assigned to its nearest centroid (plan-time constant array),
  queries scan only the ``nprobe`` nearest centroid cells.
"""

from __future__ import annotations

import math
import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")


def _query_col(query: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query])


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (id, similarity) ordered desc."""
    q = _query_col(query)
    out = df.select(
        F.col(id_col).alias("id"),
        cosine(F.col(vec_col).cast("array<double>"), q).alias("similarity"),
    )
    if exclude_id is not None:
        out = out.filter(F.col("id") != exclude_id)
    return out.orderBy(F.col("similarity").desc(), F.col("id")).limit(k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature as an int bucket id (plan-time planes)."""
    bits = [
        F.when(dot(vec, _query_col(p)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_bucketed_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    n_probes: int = 4,
    seed: int = 42,
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN: restrict the exact re-score to the query's LSH bucket plus the
    ``n_probes-1`` nearest buckets by Hamming distance (multi-probe)."""
    planes = _hyperplanes(len(query), n_planes, seed)
    vec = F.col(vec_col).cast("array<double>")
    bucketed = df.select(
        F.col(id_col).alias("id"), vec.alias("v"), lsh_bucket(vec, planes).alias("bucket")
    )
    qsig = 0
    for i, p in enumerate(planes):
        if sum(qi * pi for qi, pi in zip(query, p)) >= 0:
            qsig |= 1 << i
    # probe buckets sorted by hamming distance to the query signature
    probes = sorted(range(1 << n_planes), key=lambda b: (bin(b ^ qsig).count("1"), b))[:n_probes]
    cand = bucketed.filter(F.col("bucket").isin(probes))
    if exclude_id is not None:
        cand = cand.filter(F.col("id") != exclude_id)
    out = cand.select(
        "id", cosine(F.col("v"), _query_col(query)).alias("similarity")
    )
    return out.orderBy(F.col("similarity").desc(), F.col("id")).limit(k)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_rotations: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed — the dedup-family
    member over vectors. Random-hyperplane LSH assigns each vector one
    bucket PER ROTATION (rotation r draws its planes from ``seed + r``;
    plane constants are plan-time → pure column expressions); candidate
    pairs come from ``dedup._bucket_join``'s (rot, bucket) equi-self-join
    (never all-pairs), then the exact cosine filter keeps pairs >=
    threshold. Per-rotation
    collision probability for angle theta is ``(1 - theta/pi)**n_planes``,
    so recall is ``1 - (1 - p)**n_rotations`` — more rotations buy recall
    linearly in cost, more planes buy speed at recall's expense. Surviving
    pairs are deduped on (id_a, id_b) after the threshold filter. The
    bucketed relation is persisted (both join sides) — call
    dedup.release_persisted() after materializing."""
    from loongcollector_spark.functions.dedup import _bucket_join, _track_persist

    if n_rotations < 1:
        raise ValueError("n_rotations must be >= 1")
    vec = F.col(vec_col).cast("array<double>")
    buckets = F.array(
        *[
            lsh_bucket(vec, _hyperplanes(dim, n_planes, seed + r))
            for r in range(n_rotations)
        ]
    )
    b = _track_persist(
        df.select(
            F.col(id_col).alias("id"),
            vec.alias("v"),
            F.posexplode(buckets).alias("rot", "bucket"),
        )
    )
    pairs = (
        _bucket_join(b)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    if n_rotations > 1:
        # dedup AFTER the threshold filter: the shuffle moves only the
        # surviving (id, id, cos) triples, never vector payloads; the cosine
        # is re-evaluated per colliding rotation, which is cheap JVM work
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def train_ivf_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int = 16
) -> list[list[float]]:
    """The IVF 'train' step as a standalone artifact: a deterministic
    n_cells-row sample keyed on a multiplicative integer hash of the id
    (integer arithmetic an external oracle can replay exactly; TakeOrdered
    keeps it per-partition top-k, no full sort shuffle). Train ONCE, persist
    the returned list wherever convenient (it is plain JSON-able data), and
    pass it to repeated ivf_topk calls via ``centroids=`` so each query
    builds zero extra jobs."""
    sample = (
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(
            F.pmod(F.col(id_col).cast("long") * F.lit(2654435761), F.lit(2147483647)),
            F.col(id_col),
        )
        .limit(n_cells)
        .collect()
    )
    return [list(r.v) for r in sample]


def assign_cells(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    id_col: str | None = None,
) -> DataFrame:
    """Max-cosine centroid assignment — the ONE definition shared by
    ``ivf_topk``, ``semdedup``, ``kmeans_refine``, and the Lloyd-means
    query, so the exact expression (epsilon placement, argmax via
    ``array_position`` = first-max tie-break) stays replay-identical with
    every DuckDB oracle that mirrors it.

    Evaluates each centroid similarity exactly ONCE: one dot per centroid
    over a precomputed row norm — a when-chain argmin would duplicate every
    64-dim cosine subtree ~3x per centroid and blow up codegen (measured
    ~10x slower). Returns ([id,] v, vn, cell)."""
    cents = [list(c) for c in centroids]
    vec = F.col(vec_col).cast("array<double>")
    cnorms = [math.sqrt(sum(x * x for x in c)) + 1e-12 for c in cents]
    head = [F.col(id_col).alias("id")] if id_col else []
    with_norm = df.select(
        *head, vec.alias("v"), (norm(vec) + F.lit(1e-12)).alias("vn")
    )
    sims = F.array(
        *[
            dot(F.col("v"), _query_col(c)) / (F.col("vn") * F.lit(cn))
            for c, cn in zip(cents, cnorms)
        ]
    )
    keep = (["id"] if id_col else []) + ["v", "vn"]
    return with_norm.withColumn("__sims__", sims).select(
        *keep,
        (F.array_position(F.col("__sims__"), F.array_max("__sims__")) - 1)
        .cast("int")
        .alias("cell"),
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    exclude_id: int | None = None,
    centroids: Sequence[Sequence[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: centroids = a seeded sample of row vectors (the
    'train' step — one collect at plan time, or NONE when a pre-trained
    ``centroids=`` list is supplied); rows are assigned to their nearest
    centroid with a pure expression (``assign_cells``); the query scans
    nprobe cells."""
    if centroids is None:
        centroids = train_ivf_centroids(df, vec_col, id_col, n_cells)
    centroids = [list(c) for c in centroids]
    assigned = assign_cells(df, vec_col, centroids, id_col=id_col)
    qsims = [
        (i, sum(a * b for a, b in zip(query, c)) / (math.sqrt(sum(a * a for a in query)) * math.sqrt(sum(b * b for b in c)) + 1e-12))
        for i, c in enumerate(centroids)
    ]
    probe_cells = [i for i, _ in sorted(qsims, key=lambda t: -t[1])[:nprobe]]
    cand = assigned.filter(F.col("cell").isin(probe_cells))
    if exclude_id is not None:
        cand = cand.filter(F.col("id") != exclude_id)
    out = cand.select("id", cosine(F.col("v"), _query_col(query)).alias("similarity"))
    return out.orderBy(F.col("similarity").desc(), F.col("id")).limit(k)


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.4,
    n_cells: int = 16,
    centroids: Sequence[Sequence[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): semantic near-duplicate
    removal over an embedding column. Vectors are first assigned to k-means
    style cells (same deterministic plan-time centroid sample + argmax
    assignment as ``ivf_topk``), then pairwise cosine similarity is computed
    ONLY within a cell — the clustering bounds the quadratic, which is the
    paper's whole point (all-pairs at corpus scale is infeasible; per-cell
    m² with k cells is (n/k)² · k). A vector is dropped when some cell-mate
    with a SMALLER id is ≥ ``threshold`` similar — the keep-first greedy,
    a deterministic analogue of the paper's keep-one-per-duplicate-group.

    Returns (id, cell:int, keep:boolean) for every input vector.

    Scale shape: the assigned relation (the expensive stage — full scan +
    n_cells cosines per row) is PERSISTED and feeds all three plan subtrees
    (both self-join sides and the final keep-spine), so the scan and
    assignment run once; the self-join hash-partitions on the cell id (plus
    AQE skew splitting for lopsided cells; at web scale SemDeDup runs k
    large enough that cells stay ~10³-10⁴ vectors), and the keep-join
    shuffles only the (id) dropped set. Assignment is ``assign_cells`` —
    a pure per-row expression against plan-time centroid constants; no
    driver collect beyond the n_cells-row train sample, no per-row Python.
    Call ``dedup.release_persisted()`` after materializing."""
    from loongcollector_spark.functions.dedup import _track_persist

    if centroids is None:
        centroids = train_ivf_centroids(df, vec_col, id_col, n_cells)
    centroids = [list(c) for c in centroids]
    assigned = _track_persist(
        assign_cells(df, vec_col, centroids, id_col=id_col)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.id") < F.col("a.id")),
        )
        .filter(
            dot(F.col("a.v"), F.col("b.v"))
            / (F.col("a.vn") * F.col("b.vn"))
            >= F.lit(float(threshold))
        )
        .select(F.col("a.id").alias("id"))
        .distinct()
        .withColumn("__dup__", F.lit(True))
    )
    return (
        assigned.join(dropped, "id", "left")
        .select(
            "id",
            "cell",
            F.coalesce(~F.col("__dup__"), F.lit(True)).alias("keep"),
        )
    )


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m_subspaces: int = 8,
    n_codes: int = 16,
) -> list[list[list[float]]]:
    """PQ 'train' step (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): split the vector into ``m_subspaces`` contiguous
    sub-vectors and learn an ``n_codes``-entry codebook per subspace. Real PQ
    runs k-means per subspace; this uses the same deterministic sample an
    external oracle can replay exactly (multiplicative-hash ordering over the
    id, identical to ``train_ivf_centroids``) — the sampled vectors' slices
    ARE the codewords. Returns codebooks[j][c] = subdim-long list; plain
    JSON-able data, train once and reuse via ``codebooks=``."""
    sample = (
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(
            F.pmod(F.col(id_col).cast("long") * F.lit(2654435761), F.lit(2147483647)),
            F.col(id_col),
        )
        .limit(n_codes)
        .collect()
    )
    vecs = [list(r.v) for r in sample]
    dim = len(vecs[0])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub = dim // m_subspaces
    return [
        [v[j * sub : (j + 1) * sub] for v in vecs] for j in range(m_subspaces)
    ]


def _sql_dbl(x: float) -> str:
    return repr(float(x)) + "D"


def pq_encode(vec_sql: str, codebooks: list[list[list[float]]]) -> Column:
    """PQ encoding as a pure JVM expression: for each subspace, the code is
    the argmin-L2 codeword index. Each codeword distance is ONE ``zip_with``
    fold of the sub-slice against a literal array — m×n_codes folds of
    subdim terms, all inside whole-stage codegen; the argmin is an
    ``array_min`` over (dist, code) structs, so every distance subtree
    appears in the plan exactly ONCE and ties break to the smaller code
    (replayable as ``row_number() ORDER BY dist, cidx``). Compresses a
    dim-float vector to m small ints: the reason PQ is the 100-TB ANN path
    (a 64-dim float64 row shrinks 64× at m=8).

    ``vec_sql`` is a SQL expression string for the (double-array) vector —
    the whole m×n_codes expression assembles as ONE ``F.expr`` parse instead
    of hundreds of py4j Column calls, which cut plan-construction time ~10×
    for the 8×16 default (the tree is identical either way; only the
    driver-side build path changes)."""
    sub = len(codebooks[0][0])
    codes = []
    for j, cb in enumerate(codebooks):
        sl = f"slice({vec_sql}, {j * sub + 1}, {sub})"
        structs = ", ".join(
            "named_struct('d', aggregate(zip_with("
            + sl
            + ", array("
            + ", ".join(_sql_dbl(x) for x in cw)
            + "), (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), "
            + f"'c', {c})"
            for c, cw in enumerate(cb)
        )
        codes.append(f"CAST(array_min(array({structs})).c AS INT)")
    return F.expr("array(" + ", ".join(codes) + ")")


def pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    m_subspaces: int = 8,
    n_codes: int = 16,
    rerank: int = 4,
    exclude_id: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ/ADC approximate nearest neighbors (Jégou et al. 2011): encode every
    row to m codes, score candidates by Asymmetric Distance Computation — the
    query's per-subspace distance table to every codeword is computed ONCE in
    plain Python (m×n_codes doubles, plan-time constants), so the per-row
    distance is m O(1) literal-array lookups + adds, no vector arithmetic at
    scan time — then exact-cosine re-rank the ``rerank``×k best ADC
    candidates. Returns (id, adc_dist, similarity) top-k by similarity.

    Scale shape: zero exchanges before the top-k — encoding and ADC fuse into
    the scan; both cuts are TakeOrdered (per-partition top-k + driver merge),
    never a full sort. At 100 TB the PQ codes (m bytes/row) are the only
    per-row state the scan materializes; the rerank re-reads only rerank×k
    full vectors. Deterministic ties: both cuts break on id ascending."""
    if codebooks is None:
        codebooks = train_pq_codebooks(df, vec_col, id_col, m_subspaces, n_codes)
    sub = len(codebooks[0][0])
    q = [float(x) for x in query]
    # ADC lookup table: table[j][c] = ||q_j - codeword_jc||² in plain Python
    table = [
        [
            sum((q[j * sub + d] - cw[d]) ** 2 for d in range(sub))
            for cw in cb
        ]
        for j, cb in enumerate(codebooks)
    ]
    vec = F.col(vec_col).cast("array<double>")
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    encoded = df.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        pq_encode(vec_sql, codebooks).alias("codes"),
    )
    # j-ascending literal-table lookups; one expr parse like the encoder
    adc = F.expr(
        " + ".join(
            "element_at(array("
            + ", ".join(_sql_dbl(x) for x in row)
            + f"), element_at(codes, {j + 1}) + 1)"
            for j, row in enumerate(table)
        )
    )
    scored = encoded.withColumn("adc_dist", adc)
    if exclude_id is not None:
        scored = scored.filter(F.col("id") != exclude_id)
    cand = scored.orderBy(F.col("adc_dist").asc(), F.col("id")).limit(rerank * k)
    out = cand.select(
        "id", "adc_dist", cosine(F.col("v"), _query_col(q)).alias("similarity")
    )
    return out.orderBy(F.col("similarity").desc(), F.col("id")).limit(k)


def kmeans_refine(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: Sequence[Sequence[float]],
    iters: int = 1,
) -> list[list[float]]:
    """Distributed Lloyd refinement for the IVF/SemDeDup centroids: assign
    every vector to its max-cosine centroid (the same argmax expression the
    query path uses), recompute each centroid as the element-wise mean of
    its members, repeat. Turns the deterministic-sample 'train' step into
    real k-means at any corpus size.

    Scale shape: ONE exchange per iteration — the groupBy(cell) carries dim
    avg-aggregates (partial means combine map-side), so only k×dim partial
    sums cross the shuffle, never vectors; the k×dim result collects to the
    driver (bounded by n_cells, not the corpus). Empty cells keep their old
    centroid. Returned centroids are rounded to 6 decimals so downstream
    plans embed replayable constants (distributed sum order costs ~1e-13
    relative noise; the rounding quantizes it away)."""
    cents = [list(c) for c in centroids]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = assign_cells(df, vec_col, cents).select("v", "cell")
        means = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.avg(F.element_at(F.col("v"), d + 1)).alias(f"m{d}")
                    for d in range(dim)
                ]
            )
            .collect()
        )
        new_cents = list(cents)
        for r in means:
            new_cents[r["cell"]] = [
                round(float(r[f"m{d}"]), 6) for d in range(dim)
            ]
        cents = new_cents
    return cents
