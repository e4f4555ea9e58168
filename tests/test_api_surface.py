"""Public-surface guards. Physical choices (pinning, checkpointing,
broadcast hints, the cosine kernel, case folding) belong to the operator
and to Catalyst/AQE, not to per-call switches: each operator below has
exactly one physical plan, and these checks keep the removed switches
from coming back."""

import importlib
import inspect

import pytest

_REMOVED = {
    "datamunging_spark.operators.retrieval": {
        "search_terms": ["lowercase"],
        "inverted_index": ["lowercase"],
        "index_stats": ["lowercase"],
        "bm25_topk": ["lowercase", "pin"],
        "advance_index": ["lowercase"],
        "boolean_topk": ["lowercase", "pin"],
        "phrase_topk": ["lowercase"],
        "fielded_index": ["lowercase"],
        "field_stats": ["lowercase"],
        "bm25f_topk": ["lowercase", "pin"],
        "prf_expand": ["lowercase"],
        "near_topk": ["lowercase"],
        "hit_windows": ["lowercase"],
        "snippets": ["lowercase"],
    },
    "datamunging_spark.streaming": {
        "streaming_index_ingest": ["lowercase"],
    },
    "datamunging_spark.operators.dedup": {
        "paragraph_dedup": ["materialize"],
        "embedding_neardup_pairs": ["arrow_cosine"],
        "semantic_neardup_pairs": ["arrow_cosine"],
        "semantic_dedup": ["arrow_cosine"],
        "incremental_semantic_dedup": ["arrow_cosine"],
    },
    "datamunging_spark.operators.spandedup": {
        "shared_span_pairs": ["materialize"],
        "span_dedup": ["materialize"],
        "boilerplate_templates": ["materialize"],
        "incremental_shared_spans": ["materialize"],
        "incremental_span_dedup": ["materialize"],
    },
    "datamunging_spark.operators.trainset": {
        "concat_packed_sequences": ["materialize"],
    },
    "datamunging_spark.operators.pipeline": {
        "curate_corpus": ["materialize"],
    },
    "datamunging_spark.operators.relational": {
        "percentile_bucketize": ["broadcast_agg"],
    },
    "datamunging_spark.operators.text": {
        "lm_quality_score": ["broadcast_lm"],
    },
    "datamunging_spark.operators.selection": {
        "dsir_scores": ["broadcast_ratios"],
    },
}

_CASES = [
    (mod, fn, param)
    for mod, fns in _REMOVED.items()
    for fn, params in fns.items()
    for param in params
]


@pytest.mark.parametrize(
    "mod,fn,param", _CASES, ids=[f"{f}.{p}" for _, f, p in _CASES]
)
def test_physical_switch_absent(mod, fn, param):
    sig = inspect.signature(getattr(importlib.import_module(mod), fn))
    assert param not in sig.parameters
