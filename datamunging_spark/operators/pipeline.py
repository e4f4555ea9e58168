"""End-to-end LLM-training-corpus curation (X1+X4 composed).

The canonical large-scale data pipeline, as one composable operator:
quality filters → language filter → exact dedup → optional fuzzy
(MinHash) dedup. Every stage is one of this package's scale-shaped
operators, so the whole pipeline is: one corpus scan for the filters
(pure map, all codegen), one uniform-key shuffle for exact dedup, and the
MinHash explode+agg+band-join for fuzzy — nothing quadratic anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datamunging_spark.functions import (
    ascii_ratio,
    repetition_ratio,
    token_count,
)
from datamunging_spark.operators.dedup import exact_dedup, minhash_dedup
from datamunging_spark.operators.text import detect_language


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    min_ascii: float = 0.0,
    max_repetition: float = 0.9,
    langs: tuple[str, ...] | None = None,
    fuzzy: bool = True,
    fuzzy_threshold: float = 0.5,
    lm_filter: bool = False,
    lm_tail: float = 0.3,
    redact: bool = False,
    para_dedup: bool = False,
    para_sep: str = "\n",
    gopher: bool = False,
    gopher_rep: bool = False,
    c4: bool = False,
    c4_blocklist: list[str] | None = None,
    c4_min_sentences: int = 3,
    line_dedup: bool = False,
    url_col: str | None = None,
) -> DataFrame:
    """Filter + dedup a document corpus for training use.

    Stages: (0) ``url_col`` given: crawl-side URL dedup before any
    text-derived work (identity is free; duplicate fetches of one page
    never reach the hashing stages), (1) token-count / charset /
    repetition quality gates, plus ``gopher=True``: the published
    Gopher word-rule set (``gopher_quality_flags``) as a filter and
    ``gopher_rep=True``: the repetition half
    (``gopher_repetition_flags`` — dup-line + top-n-gram gates);
    ``c4=True``: the C4 recipe (Raffel'20 §2.2) — line cleaning FIRST
    (so every later stage sees the cleaned text, the paper's order)
    then the page flags as a filter; the paper's bad-words page rule
    needs ``c4_blocklist=`` (your deployment's list — without it that
    rule is vacuous, as ``c4_page_flags`` documents), (2) optional
    language allow-list (marker-argmax heuristic), (2b) ``line_dedup=
    True``: within-doc repeated-line scrub before any cross-doc hashing,
    (2c) ``lm_filter=True``: the CCNet move — fit a unigram LM on the
    gate-surviving corpus itself and drop the bottom ``lm_tail`` quantile
    of per-doc mean logprob (gibberish/wrong-language/boilerplate tail;
    the corpus-as-its-own-reference form of Wenzek et al.'s
    Wikipedia-LM filter), (3) exact dedup — min-id survivor per
    normalized content hash, (4) optional MinHash near-dedup at
    ``fuzzy_threshold`` signature Jaccard, (5) ``redact=True``: PII masking (``redact_pii``, all kinds)
    applied LAST so dedup keys reflect original content — two docs
    differing only in redacted spans stay distinct, matching
    exact-dedup's contract.
    ``para_dedup=True`` inserts paragraph-level boilerplate removal
    (C4-style line dedup) BEFORE doc-level dedup: repeated paragraphs
    survive only in their globally-first doc, so later copies shrink to
    remnants that the token/non-empty refilter drops (exact dedup then
    handles whatever identical remnants remain).

    With ``fuzzy`` on, the filtered+exact-deduped corpus is
    ``localCheckpoint``-ed before the fuzzy stage. The MinHash stage
    consumes that lineage TWICE — once to build signatures, once as the
    probe side of the final loser anti-join — so without materialization
    the quality filters and the dedup shuffle re-execute per branch (two
    extra full corpus passes at the 100 TB design point).
    """
    c = F.col(text_col)
    kept = df
    if url_col is not None:
        # URL dedup FIRST: identity is free, so it runs before any
        # text-derived work touches duplicate fetches of the same page.
        from datamunging_spark.operators.dedup import url_dedup

        kept = url_dedup(kept, url_col, id_col)
    if c4:
        # C4 line cleaning BEFORE the token/charset gates: the gates
        # should judge the text every later stage will actually see.
        from datamunging_spark.operators.text import c4_clean_lines

        kept = c4_clean_lines(kept, text_col)
    kept = kept.filter(
        (token_count(c) >= min_tokens)
        & (ascii_ratio(c) >= min_ascii)
        & (repetition_ratio(c) <= max_repetition)
    )
    if c4:
        from datamunging_spark.operators.text import c4_page_flags

        flagged = c4_page_flags(
            kept,
            text_col,
            min_sentences=c4_min_sentences,
            blocklist=c4_blocklist,
        )
        kept = flagged.filter(F.col("c4_pass")).drop(
            "min_sentences_ok",
            "no_lorem_ipsum",
            "no_curly_brace",
            "no_blocklist_hit",
            "c4_pass",
        )
    if gopher:
        # Published-rule gates (Rae et al. 2021 §A1.1) as a filter stage;
        # audit per-rule kill counts standalone via gopher_quality_flags.
        from datamunging_spark.operators.text import gopher_quality_flags

        flagged = gopher_quality_flags(kept, text_col)
        kept = flagged.filter(F.col("quality_pass")).drop(
            "word_count_ok",
            "mean_word_len_ok",
            "symbol_ratio_ok",
            "alpha_word_ok",
            "stopword_ok",
            "quality_pass",
        )
    if gopher_rep:
        from datamunging_spark.operators.text import gopher_repetition_flags

        flagged = gopher_repetition_flags(kept, text_col, id_col)
        kept = flagged.filter(F.col("repetition_pass")).drop(
            "dup_line_frac",
            "dup_line_char_frac",
            "top2gram_char_frac",
            "top3gram_char_frac",
            "top4gram_char_frac",
            "dup_line_ok",
            "dup_line_char_ok",
            "top2gram_ok",
            "top3gram_ok",
            "top4gram_ok",
            "repetition_pass",
        )
    if langs:
        kept = kept.filter(detect_language(c).isin(*langs))
    if line_dedup:
        # Intra-doc repeat scrub BEFORE cross-doc stages, so doc-level
        # hashes/signatures see the cleaned text.
        from datamunging_spark.operators.dedup import dedupe_lines_within_doc

        kept = dedupe_lines_within_doc(kept, text_col, sep=para_sep)
    if lm_filter:
        from datamunging_spark.operators.text import (
            lm_quality_score,
            unigram_lm_fit,
        )

        # fit and score BOTH consume the gated lineage -> materialize once
        # (the same multi-branch-consumer rule as the fuzzy stage below)
        kept = kept.localCheckpoint()
        lm = unigram_lm_fit(kept, text_col)
        scored = lm_quality_score(kept, lm, text_col, id_col)
        cut = scored.agg(
            F.percentile("lm_score", F.lit(lm_tail)).alias("_cut")
        )
        # SEMI join on survivors (score > cut), not anti on losers:
        # zero-token docs have NO scored row, and an anti-join on losers
        # would silently pass exactly the lowest-quality documents
        # through the quality stage. No tokens -> no score -> dropped.
        survivors = (
            scored.crossJoin(F.broadcast(cut))
            .filter(F.col("lm_score") > F.col("_cut"))
            .select(id_col)
        )
        kept = kept.join(survivors, on=id_col, how="semi")
    if para_dedup:
        from datamunging_spark.operators.dedup import paragraph_dedup

        kept = paragraph_dedup(kept, text_col, id_col, sep=para_sep)
        # refilter: emptied remnants must go regardless of min_tokens
        # (token_count('') == 1, so the bare threshold can't catch them)
        kept = kept.filter(
            (F.length(F.trim(F.col(text_col))) > 0)
            & (token_count(F.col(text_col)) >= min_tokens)
        )
    # Exact dedup: min-id survivor per content hash (one uniform shuffle).
    kept = exact_dedup(kept, text_col, id_col)
    if fuzzy:
        kept = kept.localCheckpoint()
        kept = minhash_dedup(
            kept, text_col, id_col, threshold=fuzzy_threshold
        )
    if redact:
        from datamunging_spark.functions import redact_pii

        kept = kept.withColumn(text_col, redact_pii(text_col))
    return kept


def curation_report(original: DataFrame, curated: DataFrame) -> DataFrame:
    """One-row summary: input/output doc counts and survival rate."""
    n_in = original.select(F.count(F.lit(1)).alias("n_in"))
    n_out = curated.select(F.count(F.lit(1)).alias("n_out"))
    return (
        n_in.crossJoin(n_out)
        .withColumn(
            "survival_rate",
            F.round(F.col("n_out") / F.col("n_in"), 6),
        )
    )
