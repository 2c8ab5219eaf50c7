"""Each output check accepts a correct result and rejects a planted wrong one."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

import checks
from conftest import ROOT
import inputs

SEED = 5


def _rollup_rows(expected):
    return [{"source": s, "__sink__": k, "rows": r, "tokens": t, "bytes": 4 * t}
            for (s, k), (r, t) in expected.items()]


def test_generator_matches_the_package_token_oracle():
    from loongcollector_spark.sources import expected_tokens

    ids = np.array([0, 1, 77, 1234], dtype=np.int64)
    c = inputs.f1_columns(ids, SEED)
    flat = inputs.f1_tokens(c["key"], c["n_tok"])
    for doc_id, toks in zip(inputs.doc_ids(c["src"], ids), np.split(flat, np.cumsum(c["n_tok"])[:-1])):
        assert np.array_equal(toks, expected_tokens(doc_id, seed=SEED))


def test_logpipe_check_rejects_an_off_by_one_rollup_row():
    expected = checks.expected_rollup(3000, SEED)
    rows = _rollup_rows(expected)
    assert checks.check_logpipe(rows, expected) == []
    rows[0]["rows"] += 1
    assert checks.check_logpipe(rows, expected)
    assert checks.check_logpipe(_rollup_rows(expected)[1:], expected)  # a missing row


def test_logpipe_routes_follow_the_rendered_status():
    # status 500 lines of web and app sources go to errors, sys never does
    expected = checks.expected_rollup(5000, SEED)
    sinks = {k for _, k in expected}
    assert sinks == {"errors", "web", "app", "default"}
    assert all(not s.startswith("sys") or k == "default" for s, k in expected)


def _perfect_dedup_output(docs):
    ids, group = docs["ids"], docs["group"]
    least = pd.Series(ids).groupby(group).transform("min").to_numpy()
    return pd.DataFrame({"doc_id": ids, "cluster_id": least, "is_keeper": ids == least})


def test_dedup_check_rejects_a_split_exact_dup_cluster():
    docs = inputs.make_docs(400, SEED)
    floor = checks.near_recall_floor(docs, 32, 8)
    out = _perfect_dedup_output(docs)
    assert checks.check_dedup(out, docs, floor) == []

    copy_id, _ = docs["exact"][0]
    split = out.copy()
    split.loc[split["doc_id"] == copy_id, ["cluster_id", "is_keeper"]] = [copy_id, True]
    assert any("exact copies" in p for p in checks.check_dedup(split, docs, floor))


def test_dedup_check_rejects_a_cluster_joining_unrelated_docs():
    docs = inputs.make_docs(400, SEED)
    out = _perfect_dedup_output(docs)
    a, b = sorted(set(docs["group"].tolist()))[:2]
    merged = out.copy()
    merged.loc[merged["cluster_id"] == b, "cluster_id"] = a
    merged["is_keeper"] = merged["doc_id"] == merged["cluster_id"]
    assert any("planted apart" in p for p in checks.check_dedup(merged, docs, 0.0))


def test_near_recall_floor_follows_the_lsh_curve():
    assert checks.lsh_probability(1.0, 32, 8) == 1.0
    assert checks.lsh_probability(0.0, 32, 8) == 0.0
    assert 0.99 < checks.lsh_probability(0.85, 32, 8) < 1.0
    docs = inputs.make_docs(2000, SEED)
    assert 0.9 < checks.near_recall_floor(docs, 32, 8) < 1.0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import worker

    os.environ["PYTHONPATH"] = ROOT
    s = worker.start_session(str(tmp_path_factory.mktemp("spark")), cores=2)
    yield s
    s.stop()


def test_dedup_workload_rejects_a_deleted_manifest(spark, tmp_path, monkeypatch):
    import workloads

    monkeypatch.setitem(workloads.SIZES, "dedup_curate", 300)
    path, facts = workloads.prepare("dedup_curate", SEED, str(tmp_path / "inputs"), n_files=2)
    assert facts["rows"] == 300
    wl = workloads.DedupCurate(spark, path, SEED, str(tmp_path / "work"))
    base = wl.run(0)
    assert wl.check(base) == []

    manifests = sorted((tmp_path / "work").glob("dedup_out/run-0/_lineage/bucket-*.json"))
    assert len(manifests) == workloads.ARCHIVE_BUCKETS
    os.remove(manifests[0])
    assert any("lineage" in p for p in wl.check(base))
    shutil.rmtree(base)
