"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The check tests feed each correctness check a right answer and deliberately
wrong ones, without Spark. The end-to-end tests run every workload at its
tiny size through ``run.py``, untraced and traced (about a minute each),
and check the output contract against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_serve  # noqa: E402
import ref  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import wl_curate  # noqa: E402
import wl_munge  # noqa: E402
import wl_serve  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


# ---------------------------------------------------------------------------
# munge
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def munge_case(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("munge"))
    meta = wl_munge.generate(d, 3, "tiny")
    exp = meta["expected"]
    right = {
        "invalid_counts": dict(exp["invalid_counts"]),
        "summary": (exp["rows"], exp["invalid_rows"], exp["empty_npi_rows"]),
        "bernoulli": int(wl_munge.BERNOULLI * exp["rows"]),
        "by_key": (exp["key_sample_rows"], exp["key_sample_keys"],
                   exp["key_sample_npi_sum"]),
        "fixed_n": wl_munge.fixed_n(exp["rows"]),
        "buckets": dict(exp["bucket_counts"]),
        "providers": exp["providers"],
        "pca_ev": list(exp["pca_explained_variance"]),
        "projected": exp["providers"],
    }
    return meta, right


def test_munge_generator_plants_its_shares(munge_case):
    meta, _ = munge_case
    planted, rows = meta["planted"], meta["rows"]
    assert 0.02 < planted["invalid_hcpcs"] / rows < 0.08
    assert planted["empty_npi"] / rows < 0.02
    assert sum(meta["expected"]["bucket_counts"].values()) == (
        meta["expected"]["clean_rows"])


def test_munge_generator_is_seeded(tmp_path):
    a = wl_munge.generate(str(tmp_path / "a"), 5, "tiny")
    b = wl_munge.generate(str(tmp_path / "b"), 5, "tiny")
    c = wl_munge.generate(str(tmp_path / "c"), 6, "tiny")
    assert a["expected"] == b["expected"]
    assert a["expected"] != c["expected"]


@pytest.mark.parametrize("field,wrong", [
    ("invalid_counts", lambda v: {**v, "9921": v.get("9921", 0) + 1}),
    ("summary", lambda v: (v[0], v[1] - 1, v[2])),
    ("bernoulli", lambda v: v * 2),
    ("by_key", lambda v: (v[0], v[1], v[2] + 1)),
    ("fixed_n", lambda v: v - 1),
    ("buckets", lambda v: {**v, "10th": v["10th"] + 1}),
    ("providers", lambda v: v + 1),
    ("pca_ev", lambda v: [v[0] + 1e-3] + v[1:]),
    ("projected", lambda v: v - 1),
])
def test_munge_check_rejects_wrong_results(munge_case, field, wrong):
    meta, right = munge_case
    assert wl_munge.check(right, meta["expected"]) == []
    bad = dict(right)
    bad[field] = wrong(right[field])
    assert wl_munge.check(bad, meta["expected"])


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def test_bm25_check_is_tie_aware_and_rejects_errors():
    ref_list = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert ref.check_topk([(1, 3.0), (3, 2.0)], ref_list, 2) is None
    assert ref.check_topk([(1, 3.0), (4, 2.0)], ref_list, 2)  # wrong id
    assert ref.check_topk([(1, 3.0), (2, 2.5)], ref_list, 2)  # wrong score
    assert ref.check_topk([(1, 3.0)], ref_list, 2)  # short list


def test_bm25_reference_scores_a_known_corpus():
    bm = ref.Bm25({1: "a b c", 2: "a a d", 3: "e f g"})
    top = bm.topk("a", 3)
    assert [d for d, _ in top] == [2, 1]
    assert top[0][1] > top[1][1] > 0


def _ivf_case():
    rng = np.random.default_rng(0)
    vecs = {i: rng.normal(size=4) for i in range(1, 30)}
    qv = rng.normal(size=4)
    cos = {i: float(qv @ v / np.linalg.norm(qv) / np.linalg.norm(v))
           for i, v in vecs.items()}
    best = sorted(cos, key=lambda i: (-cos[i], i))[:gen_serve.K]
    rows = [{"neighbor_id": i, "rank": r + 1, "cosine": cos[i]}
            for r, i in enumerate(best)]
    return {"vec": qv.tolist(), "exact": best}, rows, vecs


def test_ivf_check_rejects_wrong_neighbours():
    q, rows, vecs = _ivf_case()
    fails, recall = wl_serve.check_ivf(q, rows, vecs)
    assert fails == [] and recall == 1.0
    assert wl_serve.check_ivf(q, rows[:-1], vecs)[0]
    bad = [dict(r) for r in rows]
    bad[0]["cosine"] += 1e-3
    assert wl_serve.check_ivf(q, bad, vecs)[0]
    swapped = [dict(r) for r in rows]
    swapped[0]["rank"], swapped[1]["rank"] = 2, 1
    assert wl_serve.check_ivf(q, swapped, vecs)[0]
    # exact cosines in order, but not the nearest neighbours
    far = sorted(set(vecs) - set(q["exact"]), key=lambda i: -(
        np.asarray(q["vec"]) @ vecs[i] / np.linalg.norm(vecs[i])))[:gen_serve.K]
    worse = {"vec": q["vec"], "exact": q["exact"]}
    cos = {i: float(np.asarray(q["vec"]) @ vecs[i] / np.linalg.norm(q["vec"])
                    / np.linalg.norm(vecs[i])) for i in far}
    low = [{"neighbor_id": i, "rank": r + 1, "cosine": cos[i]}
           for r, i in enumerate(far)]
    fails, recall = wl_serve.check_ivf(worse, low, vecs)
    assert recall < wl_serve.RECALL_FLOOR and fails


def test_hybrid_check_rejects_wrong_fusion():
    k = gen_serve.K
    bm = [(i, 10.0 - i) for i in range(1, 21)]
    rows = []
    for i in range(1, k + 1):
        rows.append({"doc_id": i, "rank_1": i, "rank_2": None})
        rows.append({"doc_id": 100 + i, "rank_1": None, "rank_2": i})
    for r in rows:
        r["rrf"] = ref.rrf([{0: r["rank_1"]} if r["rank_1"] else {},
                            {0: r["rank_2"]} if r["rank_2"] else {}])[0]
    for n, r in enumerate(sorted(rows, key=lambda r: (-r["rrf"], r["doc_id"]))):
        r["rank"] = n + 1
    q = {"bm25": bm}
    assert wl_serve.check_hybrid(q, rows) == []
    bad = [dict(r) for r in rows]
    bad[0]["rrf"] += 1e-6
    assert wl_serve.check_hybrid(q, bad)
    outsider = [dict(r) for r in rows]
    outsider[0]["doc_id"] = 15  # a BM25 hit below the top-k cut
    assert wl_serve.check_hybrid(q, outsider)
    assert wl_serve.check_hybrid(q, rows[:-1])


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_curate_generator_plants_every_share(tmp_path, seed):
    meta = wl_curate.generate(str(tmp_path), seed, "bench")
    with open(tmp_path / "truth.json") as f:
        truth = json.load(f)
    planted = meta["planted"]
    assert meta["docs"] == wl_curate.SIZES["bench"]
    assert sum(len(g) - 1 for g in truth["exact_groups"]) == planted["exact_dup"]
    assert len(truth["near_pairs"]) == planted["near_dup"]
    assert len(truth["low_quality"]) == planted["low_quality"]


def test_curate_check_rejects_each_planted_violation():
    truth = {"exact_groups": [[1, 2]], "near_pairs": [[3, 4]],
             "low_quality": [5], "evals": ["what is the eval question"],
             "spans": ["SPAN " * 12]}
    docs = {1: "a", 3: "b", 7: "c " + truth["spans"][0], 8: "d"}
    packed = [{"doc_id": d, "bin_id": 0, "n_tokens": 10, "truncated": False}
              for d in docs]
    assert wl_curate.check(docs, packed, truth) == []
    for extra in ({2: "x"}, {4: "x"}, {5: "x"}, {6: "so what is the eval question"},
                  {9: "e " + truth["spans"][0]}, {9: "mail me@example.com"}):
        more = {**docs, **extra}
        pk = packed + [{"doc_id": d, "bin_id": 1, "n_tokens": 1,
                        "truncated": False} for d in extra]
        assert wl_curate.check(more, pk, truth), extra
    assert wl_curate.check(docs, packed[:-1], truth)
    over = [dict(p, n_tokens=wl_curate.MAX_LEN) for p in packed]
    assert wl_curate.check(docs, over, truth)


def test_serve_generator_plants_duplicates_and_answers_over_distinct_docs(
        tmp_path):
    import pyarrow.parquet as pq

    meta = wl_serve.generate(str(tmp_path), 4, "tiny")
    n = wl_serve.SIZES["tiny"]
    ids = pq.read_table(tmp_path / "crawl.parquet")["doc_id"].to_pylist()
    assert meta["docs"] == n
    assert sorted(ids) == list(range(1, n + sum(meta["planted"].values()) + 1))
    with open(tmp_path / "pool.json") as f:
        pool = json.load(f)
    answered = {d for q in pool for d in q["exact"]}
    answered |= {d for q in pool for d, _ in q["bm25"]}
    assert max(answered) <= n  # duplicates are never served


def test_survivor_check_rejects_wrong_dedup():
    assert wl_serve.check_survivors([1, 2, 3], 3) == []
    assert wl_serve.check_survivors([1, 2, 3, 4], 3)  # duplicate kept
    assert wl_serve.check_survivors([1, 3], 3)  # distinct doc dropped
    assert wl_serve.check_survivors([1, 2, 4], 3)  # both


# ---------------------------------------------------------------------------
# end to end
# ---------------------------------------------------------------------------


def _run(*args, cwd=ROOT, timeout=900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout, check=False)


def test_benchmark_runs_every_workload():
    assert [w["name"] for w in BENCH["workloads"]] == sorted(run.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_runs_tiny_and_is_correct(workload):
    proc = _run("--workload", workload, "--seed", "2", "--seconds", "1",
                "--trace", "0", "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


#: The layers each workload calls; together they are every traced layer.
CALLS = {
    "munge": {"sources", "quality", "sampling", "relational", "ml"},
    "serve": {"pipeline", "spandedup", "trainset", "sources", "dedup",
              "retrieval", "similarity"},
}


def test_workloads_cover_every_layer():
    assert set(CALLS) == set(run.WORKLOADS)
    assert set().union(*CALLS.values()) == set(spans.LAYERS)


@pytest.mark.parametrize("workload", sorted(CALLS))
def test_traced_run_reports_every_per_layer_metric(workload):
    proc = _run("--workload", workload, "--seed", "2", "--seconds", "1",
                "--trace", "1", "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in spans.LAYERS:
        if layer in CALLS[workload]:
            assert m[f"{layer}.calls"] >= 1 and m[f"{layer}.jobs"] >= 1, layer
            assert m[f"{layer}.tasks"] >= m[f"{layer}.jobs"]
            assert 0 <= m[f"{layer}.driver_s"] <= m[f"{layer}.wall_s"]
        else:
            assert m[f"{layer}.calls"] == 0, layer
    assert m["session.start_s"] > 0


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "serve", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path), timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
