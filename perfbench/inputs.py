"""Seeded benchmark inputs, written to parquet with numpy and pyarrow only.

The benchmark owns its inputs: they are a pure function of ``--seed`` and the
workload size, built here without Spark and without the package, and cached on
disk before any timed window starts. The package only ever sees the parquet.

Two families:

- the F1 tokenized-sequence table (FIXTURES.md F1), used by ``logpipe``.
  Every column is a pure function of the row index, so the checks can
  recompute expected per-(source, sink) rows and tokens with numpy;
- text documents with planted duplicates, used by ``dedup_curate``: exact
  copies and near copies (one word replaced) of a set of originals, with the
  planted groups returned so the check knows which documents belong together.
"""

from __future__ import annotations

import os

import numpy as np

# F1 generator constants (FIXTURES.md F1). Kept here so that the checks are
# computed from the published formulas, not from the code they check.
VOCAB_SIZE = 50257
MIN_TOK, MAX_TOK = 8, 2048
SOURCES = (
    "web-01", "web-02", "web-03", "web-04", "web-05", "web-06", "web-07", "web-08",
    "app-01", "app-02", "app-03", "app-04",
    "sys-01", "sys-02", "sys-03", "sys-04",
)
SOURCE_WEIGHTS = np.array(
    [0.40, 0.12, 0.08, 0.06, 0.05, 0.04, 0.035, 0.03,
     0.028, 0.026, 0.024, 0.022, 0.02, 0.019, 0.018, 0.028]
)
STATUS = np.array([200, 200, 200, 301, 404, 500])

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_SRC_SALT = np.uint64(0xA5A5A5A5)
_NTOK_SALT = np.uint64(0x5EED5EED)


def splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = (x + _GOLDEN).astype(np.uint64)
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        return x ^ (x >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    return x.astype(np.float64) / float(2**64)


def f1_columns(ids: np.ndarray, seed: int) -> dict[str, np.ndarray]:
    """Per-row F1 facts for row indices ``ids``: source index, token count,
    row key and the 8 header tokens the detok render reads."""
    u = ids.astype(np.uint64)
    src = np.searchsorted(
        np.cumsum(SOURCE_WEIGHTS), _u01(splitmix64(u ^ (_SRC_SALT + np.uint64(seed)))), side="right"
    ).clip(0, len(SOURCES) - 1)
    ntok_u = _u01(splitmix64(u ^ (_NTOK_SALT + np.uint64(seed))))
    n_tok = (MIN_TOK + np.floor((MAX_TOK - MIN_TOK) * ntok_u**3)).astype(np.int32)
    with np.errstate(over="ignore"):
        key = splitmix64(u + np.uint64(seed) * np.uint64(0x10001))
        head = np.stack(
            [(splitmix64(key + np.uint64(j + 1)) % np.uint64(VOCAB_SIZE)).astype(np.int64)
             for j in range(8)],
            axis=1,
        )
    return {"src": src, "n_tok": n_tok, "key": key, "head": head}


def f1_tokens(key: np.ndarray, n_tok: np.ndarray) -> np.ndarray:
    """Flat token stream: token j of a row is splitmix64(key + j + 1) % V."""
    starts = np.cumsum(n_tok) - n_tok
    intra = np.arange(int(n_tok.sum()), dtype=np.uint64) - np.repeat(starts, n_tok).astype(np.uint64)
    with np.errstate(over="ignore"):
        return (splitmix64(np.repeat(key, n_tok) + intra + np.uint64(1)) % np.uint64(VOCAB_SIZE)).astype(
            np.int32
        )


def doc_ids(src: np.ndarray, ids: np.ndarray) -> list[str]:
    return [f"{SOURCES[s]}-{i:012d}" for s, i in zip(src.tolist(), ids.tolist())]


def write_f1(path: str, n_rows: int, seed: int, n_files: int) -> dict:
    """Write F1 rows ``[0, n_rows)`` as ``n_files`` parquet files into the
    directory ``path``; returns input facts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.arange(n_rows, dtype=np.int64)
    tokens_total = 0
    for f, part in enumerate(np.array_split(ids, n_files)):
        c = f1_columns(part, seed)
        flat = f1_tokens(c["key"], c["n_tok"])
        offsets = np.concatenate([[0], np.cumsum(c["n_tok"])]).astype(np.int32)
        table = pa.table({
            "doc_id": pa.array(doc_ids(c["src"], part), pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, pa.int32())),
            "n_tok": pa.array(c["n_tok"], pa.int32()),
            "source": pa.array(np.asarray(SOURCES)[c["src"]], pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"), compression="snappy")
        tokens_total += int(c["n_tok"].sum())
    return {"rows": len(ids), "tokens": tokens_total, "bytes": _dir_bytes(path), "files": n_files}


# ---------------------------------------------------------------------------
# Documents with planted duplicates (dedup_curate)
# ---------------------------------------------------------------------------

DOC_VOCAB = 20000
# Long enough that one replaced word leaves a near copy's 3-gram Jaccard at
# 0.94 or more: 32 hashes in 8 bands then miss such a pair with probability
# under 1e-5, so a dataset's 10 % near copies are all found and the
# connected-components round count does not change from seed to seed.
DOC_MIN_WORDS, DOC_MAX_WORDS = 100, 200
EXACT_SHARE, NEAR_SHARE = 0.2, 0.1


def make_docs(n_docs: int, seed: int) -> dict:
    """``n_docs`` documents: 70 % originals, 20 % exact copies and 10 % near
    copies (one word replaced) of randomly chosen originals. Doc ids are a
    random permutation, so copies are scattered among the originals.

    Returns ids, texts, ``group`` (planted group = the original's id, for
    every doc), ``exact`` and ``near`` as (copy_id, original_id) pairs."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_orig = n_docs - n_exact - n_near
    words = [f"w{k:x}" for k in range(DOC_VOCAB)]
    lengths = rng.integers(DOC_MIN_WORDS, DOC_MAX_WORDS + 1, n_orig)
    orig_words = [rng.integers(0, DOC_VOCAB, n) for n in lengths]

    ids = rng.permutation(n_docs).astype(np.int64)
    orig_ids = ids[:n_orig]
    texts = [" ".join(words[w] for w in ws) for ws in orig_words]
    group = list(orig_ids.tolist())

    exact, near = [], []
    for k, src in enumerate(rng.integers(0, n_orig, n_exact).tolist()):
        cid = int(ids[n_orig + k])
        texts.append(texts[src])
        group.append(int(orig_ids[src]))
        exact.append((cid, int(orig_ids[src])))
    for k, src in enumerate(rng.integers(0, n_orig, n_near).tolist()):
        cid = int(ids[n_orig + n_exact + k])
        ws = orig_words[src].copy()
        pos = int(rng.integers(0, len(ws)))
        ws[pos] = (ws[pos] + 1 + int(rng.integers(0, DOC_VOCAB - 1))) % DOC_VOCAB
        texts.append(" ".join(words[w] for w in ws))
        group.append(int(orig_ids[src]))
        near.append((cid, int(orig_ids[src])))
    return {"ids": ids, "texts": texts, "group": np.array(group, dtype=np.int64),
            "exact": exact, "near": near}


def write_docs(path: str, docs: dict, n_files: int) -> dict:
    """Write ``make_docs`` output as ``n_files`` parquet files into the
    directory ``path``; returns input facts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    order = np.argsort(docs["ids"])  # files in id order, like an ingested corpus
    for f, part in enumerate(np.array_split(order, n_files)):
        pq.write_table(
            pa.table({"doc_id": pa.array(docs["ids"][part], pa.int64()),
                      "text": pa.array([docs["texts"][i] for i in part.tolist()], pa.string())}),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )
    n_words = sum(t.count(" ") + 1 for t in docs["texts"])
    return {"rows": len(docs["ids"]), "tokens": n_words, "bytes": _dir_bytes(path), "files": n_files}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
