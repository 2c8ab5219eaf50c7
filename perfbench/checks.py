"""Output checks, one per workload. Each returns a list of problems; an empty
list means the run's output is correct.

Every expected value is computed here from the generator's formulas
(``inputs``) or from the planted duplicate groups, never by calling the code
under test: the logpipe rollup is recomputed with numpy, and the dedup
clusters are compared with the groups the generator planted.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

import inputs

# ---------------------------------------------------------------------------
# logpipe: per-(source, sink) rows and tokens of the salted rollup
# ---------------------------------------------------------------------------


def f1_sinks(head: np.ndarray, src: np.ndarray) -> np.ndarray:
    """The logpipe sink (errors, web, app or default) each F1 row routes to.
    The web family renders an nginx line and the app family a JSON object,
    both carrying ``status`` = STATUS[t2 % 6]; the sys family carries no
    status."""
    fam = np.asarray([s.split("-")[0] for s in inputs.SOURCES])[src]
    status = inputs.STATUS[head[:, 2] % len(inputs.STATUS)]
    errors = (fam != "sys") & (status // 100 == 5)
    return np.where(errors, "errors", np.where(fam == "web", "web", np.where(fam == "app", "app", "default")))


def expected_rollup(n_rows: int, seed: int) -> dict[tuple[str, str], tuple[int, int]]:
    """{(source, sink): (rows, tokens)} for the logpipe routes, from numpy."""
    c = inputs.f1_columns(np.arange(n_rows, dtype=np.int64), seed)
    sinks = f1_sinks(c["head"], c["src"])
    out: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])
    for s, k, n in zip(c["src"].tolist(), sinks.tolist(), c["n_tok"].tolist()):
        acc = out[(inputs.SOURCES[s], k)]
        acc[0] += 1
        acc[1] += n
    return {k: (v[0], v[1]) for k, v in out.items()}


def check_logpipe(rollup: list[dict], expected: dict[tuple[str, str], tuple[int, int]]) -> list[str]:
    got: dict[tuple[str, str], tuple[int, int]] = {}
    problems = []
    for r in rollup:
        key = (r["source"], r["__sink__"])
        if key in got:
            problems.append(f"duplicate rollup row {key}")
        got[key] = (int(r["rows"]), int(r["tokens"]))
        if int(r["bytes"]) != 4 * int(r["tokens"]):
            problems.append(f"{key}: bytes {r['bytes']} != 4 * tokens {r['tokens']}")
    for key in sorted(set(got) | set(expected)):
        if got.get(key) != expected.get(key):
            problems.append(f"{key}: rows/tokens {got.get(key)} != expected {expected.get(key)}")
    return problems


# ---------------------------------------------------------------------------
# dedup_curate: clusters against the planted duplicate groups
# ---------------------------------------------------------------------------


def shingle_set(text: str, n: int = 3) -> set[tuple[str, ...]]:
    ws = text.lower().split()
    return {tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def lsh_probability(jaccard: float, num_hashes: int, bands: int) -> float:
    """P(a pair with this Jaccard shares at least one band)."""
    r = num_hashes // bands
    return 1.0 - (1.0 - jaccard**r) ** bands


def near_recall_floor(docs: dict, num_hashes: int, bands: int) -> float:
    """Lowest near-copy recall the LSH bound allows: expected misses plus four
    standard deviations plus one, over the planted near pairs."""
    text = dict(zip(docs["ids"].tolist(), docs["texts"]))
    p = []
    for cid, oid in docs["near"]:
        a, b = shingle_set(text[cid]), shingle_set(text[oid])
        p.append(lsh_probability(len(a & b) / len(a | b), num_hashes, bands))
    p = np.asarray(p)
    misses = float((1 - p).sum() + 4 * math.sqrt(float((p * (1 - p)).sum())) + 1)
    return 1.0 - misses / max(len(p), 1)


def check_dedup(out, docs: dict, recall_floor: float) -> list[str]:
    """``out``: pandas frame (doc_id, cluster_id, is_keeper), one row per doc."""
    problems = []
    ids = out["doc_id"].to_numpy()
    if len(ids) != len(docs["ids"]) or set(ids.tolist()) != set(docs["ids"].tolist()):
        return [f"{len(ids)} output rows do not cover the {len(docs['ids'])} input docs once each"]
    cluster = dict(zip(ids.tolist(), out["cluster_id"].to_numpy().tolist()))
    keeper = dict(zip(ids.tolist(), out["is_keeper"].to_numpy().tolist()))

    split = [(c, o) for c, o in docs["exact"] if cluster[c] != cluster[o]]
    if split:
        problems.append(f"{len(split)} exact copies outside their original's cluster, e.g. {split[0]}")
    hit = sum(cluster[c] == cluster[o] for c, o in docs["near"])
    recall = hit / max(len(docs["near"]), 1)
    if recall < recall_floor:
        problems.append(f"near-copy recall {recall:.4f} below the LSH floor {recall_floor:.4f}")

    group = dict(zip(docs["ids"].tolist(), docs["group"].tolist()))
    members: dict[int, list[int]] = defaultdict(list)
    for d, c in cluster.items():
        members[c].append(d)
    for c, ds in members.items():
        if len({group[d] for d in ds}) > 1:
            problems.append(f"cluster {c} joins docs planted apart: {sorted(ds)[:5]}")
            break
        if c != min(ds):
            problems.append(f"cluster {c} is not labelled by its least id {min(ds)}")
            break
    wrong_keep = [d for d in ids.tolist() if keeper[d] != (d == cluster[d])]
    if wrong_keep:
        problems.append(f"{len(wrong_keep)} docs with a wrong keeper flag, e.g. {wrong_keep[0]}")
    return problems
