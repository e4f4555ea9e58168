"""Cross-document exact-substring span dedup (X1) — the Lee et al. 2022
"Deduplicating Training Data Makes Language Models Better" family: find
verbatim character spans of length >= ``min_span`` shared BETWEEN corpus
documents and cut them from all but the earliest document (or from all).

The reference tool builds one monolithic suffix array over the corpus —
a single-machine design. The Spark-first re-expression uses winnowing
fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
algorithm): per document, hash every ``gram``-char window, then in every
sliding window of ``w = min_span - gram + 1`` consecutive gram hashes
select the (rightmost) minimum. Guarantee: any shared substring of
length >= w + gram - 1 = ``min_span`` fully contains at least one
selection window, and identical window CONTENT selects an identical
minimum hash in both documents — so every qualifying shared span yields
at least one fingerprint equi-join hit, at ~2/(w+1) the density of
all-positions hashing. Candidates are therefore generated by a bucketed
equi-join on the 64-bit fingerprint — never an all-pairs comparison —
and each candidate pair is extended to its maximal shared span locally
(Arrow batch, both texts in one row). 100 TB shape: fingerprint table
~= 6% of corpus chars x 16 bytes; one groupBy for the hot-fingerprint
valve; one self-equi-join; one groupBy per pair; two text joins keyed on
doc id; one groupBy per doc for removal. Nothing quadratic in corpus
size — pair volume is bounded by the ``max_fp_df`` valve exactly like
``max_gram_df`` in ngram_jaccard_pairs.
"""

# NB: no `from __future__ import annotations` — pandas_udf resolves real
# type objects at decoration time.

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _winnow_rows(text, gram, window, min_span, portable=False):
    """Winnowed (fingerprint, position) pairs for one document; empty for
    docs shorter than ``min_span`` (they cannot contain a qualifying
    span). numpy-vectorized: k multiply-add passes for the rolling
    polynomial hash, one sliding-window argmin for selection.

    ``portable=True`` swaps the rolling polynomial for the uint64 made
    of the first 16 hex chars of ``md5(gram substring)`` — measured
    ~2.5× the rolling kernel's wall at sf0.1 (1.7 s vs 0.68 s warm,
    5k docs: one md5 per position instead of k vectorized
    multiply-adds) but byte-reproducible in any engine with md5():
    selection compares the SAME uint64s, so the winnowed (fp, pos) set
    is engine-portable (the r12 oracle-promotion discipline applied to
    winnowing). Positions and slices are CODE-POINT based in both
    engines (Python str, DuckDB substr) — parity documented for
    non-ASCII too."""
    import numpy as np

    if text is None or len(text) < min_span:
        return None
    n = len(text) - gram + 1
    if portable:
        import hashlib

        h = np.fromiter(
            (
                int(
                    hashlib.md5(
                        text[i:i + gram].encode("utf-8")
                    ).hexdigest()[:16],
                    16,
                )
                for i in range(n)
            ),
            dtype=np.uint64,
            count=n,
        )
    else:
        codes = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.uint64)
        h = np.zeros(n, dtype=np.uint64)
        base = np.uint64(1099511628211)  # FNV-1a prime as polynomial base
        for j in range(gram):
            h = h * base + codes[j : j + n]  # uint64 wraps mod 2**64
    if n <= window:
        pos = np.array([int(n - 1 - h[::-1].argmin())])
    else:
        sw = np.lib.stride_tricks.sliding_window_view(h, window)
        # rightmost minimum per window: argmin returns the FIRST hit, so
        # argmin over the reversed view gives the rightmost of the
        # original — position-stable because ties are broken by content-
        # relative offset, identical in both copies of a shared span
        rel = window - 1 - np.argmin(sw[:, ::-1], axis=1)
        pos = np.unique(np.arange(sw.shape[0]) + rel)
    return h[pos].view(np.int64), pos


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = 50,
    gram: int = 16,
    portable: bool = False,
) -> DataFrame:
    """``(id, fp, pos)`` winnowing fingerprints per document — the
    distributed substitute for the reference family's suffix array. Docs
    shorter than ``min_span`` emit nothing (cannot contain a qualifying
    span). Arrow ``mapInPandas``; output is ~2/(min_span - gram + 2) of
    corpus character count. ``portable=True`` selects over md5-derived
    uint64s instead of the rolling polynomial (see :func:`_winnow_rows`)
    — DuckDB-reproducible fingerprints for the oracle tier; the rolling
    hash stays the throughput default."""
    if gram >= min_span:
        raise ValueError("gram must be < min_span (window would be empty)")
    window = min_span - gram + 1
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("fp", T.LongType()),
            T.StructField("pos", T.IntegerType()),
        ]
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fps, poss = [], [], []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                rows = _winnow_rows(text, gram, window, min_span, portable)
                if rows is None:
                    continue
                h, pos = rows
                ids.extend([doc] * len(pos))
                fps.append(h)
                poss.append(pos)
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "fp": np.concatenate(fps),
                    "pos": np.concatenate(poss).astype(np.int32),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema)


def _extend_anchors(ta, tb, anchors, gram, min_span):
    """Maximal shared spans for one document pair: extend every anchor
    left/right while characters match; anchors covered by an
    already-extended span on the same diagonal are skipped, so cost is
    O(total matched span length), not O(anchors x span)."""
    spans = set()
    by_diag: dict = {}
    la, lb = len(ta), len(tb)
    for pa, pb in sorted(anchors):
        d = pa - pb
        if any(s <= pa < e for s, e in by_diag.get(d, ())):
            continue
        if ta[pa : pa + gram] != tb[pb : pb + gram]:
            continue  # 64-bit fingerprint collision — verify, don't trust
        sa, sb = pa, pb
        while sa > 0 and sb > 0 and ta[sa - 1] == tb[sb - 1]:
            sa -= 1
            sb -= 1
        ea, eb = pa + gram, pb + gram
        while ea < la and eb < lb and ta[ea] == tb[eb]:
            ea += 1
            eb += 1
        by_diag.setdefault(d, []).append((sa, ea))
        if ea - sa >= min_span:
            spans.add((sa, sb, ea - sa))
    return spans


def shared_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = 50,
    gram: int = 16,
    max_fp_df: int | None = 64,
    max_anchors_per_pair: int = 256,
    max_pairs_per_doc: int | None = None,
    valve: str = "exact",
    valve_k: int = 65536,
    _precomputed_fps: DataFrame | None = None,
) -> DataFrame:
    """All maximal cross-document spans of length >= ``min_span`` shared
    verbatim between two documents: one row per (doc_a < doc_b, span)
    with character offsets into both texts.

    ``valve="sketch"`` replaces the hot-fingerprint detection's exact
    groupBy (one shuffled row per DISTINCT fp — the valve's own largest
    exchange at corpus scale) with the bounded-shuffle Misra-Gries
    detector (:func:`~datamunging_spark.operators.sketch.
    hot_keys_sketch`: one Arrow pass + ≤ partitions × (valve_k+2)
    summary rows + a broadcast anti-join). The sketch counts fp ROWS
    (≥ document frequency), and flags on the count UPPER bound, so its
    drops are a SUPERSET of the exact valve's above the MG floor —
    over-dropping loses span-detection recall, never correctness, the
    valve's documented trade; extra-drop pricing in SCALE.md.

    ``_precomputed_fps``: a :func:`winnow_fingerprints` table already
    computed over EXACTLY ``df``'s current texts with the same
    (``min_span``, ``gram``) — skips the winnowing pass (the same
    ``_precomputed_sig`` contract as ``minhash_lsh_pairs``); the caller
    owns the exact-match precondition. This is what lets
    :func:`incremental_span_dedup` re-winnow only the documents its
    history pass actually cut.

    ``max_pairs_per_doc`` caps how many candidate PAIRS one document
    joins (earliest partners kept, deterministically) — the text-
    replication valve: the pair-text join ships a doc's text once per
    candidate pair, so a template document matching 10^5 others would
    otherwise replicate its text 10^5-fold. Pairs beyond the cap go
    undetected for that doc — the same explicit trade as ``max_fp_df``.

    The fingerprint table is localCheckpointed: it feeds THREE plan
    branches (the valve groupBy, and both sides of the self-join), which
    would otherwise re-run the winnowing ``mapInPandas`` pass per branch
    — the materialize-once discipline SCALE.md documents (measured ~25%
    off the candidate stage at sf0.1).

    Plan shape: fingerprint scan → hot-fingerprint valve (a gram
    fingerprint present in more than ``max_fp_df`` documents is
    boilerplate — dropping it bounds candidate fan-out exactly like
    ``max_gram_df`` in ngram_jaccard_pairs; spans whose EVERY anchor is
    valved go undetected, the documented trade) → fp self-equi-join with
    ``doc_a < doc_b`` → one groupBy(pair) collecting anchors (sorted,
    capped at ``max_anchors_per_pair`` — a cap only matters for pairs
    sharing pathological amounts of content, whose first anchors already
    cover the spans) → two keyed joins to attach both texts → Arrow
    ``mapInPandas`` extension to maximal spans. Every join is a bucketed
    equi-join; per-pair work is linear in matched content.
    """
    if valve not in ("exact", "sketch"):
        # validate BEFORE the winnowing pass: a typo'd mode must fail in
        # milliseconds, not after the corpus-wide Arrow scan
        raise ValueError(f"valve must be 'exact'|'sketch', got {valve!r}")
    if _precomputed_fps is not None:
        # caller owns materialization of a precomputed table (it is
        # usually already checkpointed — re-checkpointing would add a
        # wasted pass); it still feeds all three branches below
        fps = _precomputed_fps
    else:
        fps = winnow_fingerprints(
            df, text_col=text_col, id_col=id_col,
            min_span=min_span, gram=gram,
        ).localCheckpoint()
    if max_fp_df is not None:
        if valve == "sketch":
            from datamunging_spark.operators.sketch import hot_keys_sketch

            hot = hot_keys_sketch(fps, "fp", max_fp_df, k=valve_k)
            fps = fps.join(F.broadcast(hot), "fp", "left_anti")
        else:
            keep = (
                fps.groupBy("fp")
                .agg(F.count_distinct(F.col(id_col)).alias("_df"))
                .filter(F.col("_df") <= max_fp_df)
                .select("fp")
            )
            fps = fps.join(keep, "fp")
    a = fps.select(
        F.col("fp"),
        F.col(id_col).alias("doc_a"),
        F.col("pos").alias("pos_a"),
    )
    b = fps.select(
        F.col("fp"),
        F.col(id_col).alias("doc_b"),
        F.col("pos").alias("pos_b"),
    )
    # no distinct before the pair groupBy: each (doc, pos) emits exactly
    # ONE fingerprint (np.unique per doc), so a (doc_a, doc_b, pos_a,
    # pos_b) row can only arise from one fp match — deduplicating would
    # add a second candidate-scale exchange for nothing
    anchors = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos_a"), F.col("pos_b")))
                ),
                1,
                max_anchors_per_pair,
            ).alias("_anchors")
        )
    )
    if max_pairs_per_doc is not None:
        from datamunging_spark.operators.relational import cap_rows_per_key

        anchors = cap_rows_per_key(
            anchors, ["doc_a"], ["doc_b"], max_pairs_per_doc
        )
        anchors = cap_rows_per_key(
            anchors, ["doc_b"], ["doc_a"], max_pairs_per_doc
        )
    docs = df.select(F.col(id_col), F.col(text_col))
    return _extend_pair_anchors(
        anchors, docs, docs, text_col, id_col,
        df.schema[id_col].dataType, gram, min_span,
    )


def _extend_pair_anchors(
    anchors: DataFrame,
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str,
    id_col: str,
    id_type,
    gram: int,
    min_span: int,
) -> DataFrame:
    """Attach both texts to the per-pair anchor table (two keyed joins —
    only CANDIDATE docs fetch their text, which is what lets the
    incremental path avoid rescanning history) and extend anchors to
    maximal spans Arrow-locally. Shared by the batch self-join path and
    the incremental batch-vs-history path."""
    paired = anchors.join(
        docs_a.select(
            F.col(id_col).alias("_ja"), F.col(text_col).alias("_ta")
        ),
        F.col("doc_a") == F.col("_ja"),
    ).join(
        docs_b.select(
            F.col(id_col).alias("_jb"), F.col(text_col).alias("_tb")
        ),
        F.col("doc_b") == F.col("_jb"),
    ).select("doc_a", "doc_b", "_ta", "_tb", "_anchors")

    schema = T.StructType(
        [
            T.StructField("doc_a", id_type),
            T.StructField("doc_b", id_type),
            T.StructField("start_a", T.IntegerType()),
            T.StructField("start_b", T.IntegerType()),
            T.StructField("length", T.IntegerType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("doc_a", "doc_b", "start_a", "start_b", "length")}
            for da, db, ta, tb, anc in zip(
                pdf["doc_a"], pdf["doc_b"], pdf["_ta"], pdf["_tb"],
                pdf["_anchors"],
            ):
                pairs = [(int(x["pos_a"]), int(x["pos_b"])) for x in anc]
                for sa, sb, ln in sorted(
                    _extend_anchors(ta, tb, pairs, gram, min_span)
                ):
                    out["doc_a"].append(da)
                    out["doc_b"].append(db)
                    out["start_a"].append(sa)
                    out["start_b"].append(sb)
                    out["length"].append(ln)
            if out["doc_a"]:
                yield pd.DataFrame(out)

    return paired.mapInPandas(run, schema)


def shared_span_report(
    df: DataFrame,
    spans: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    **span_kwargs,
) -> DataFrame:
    """One-row-per-group duplicate-mass diagnosis BEFORE committing to a
    removal run — the span-dedup sibling of entity resolution's
    ``blocking_report``: how many docs participate in cross-document
    spans, how many spans/pairs there are, the span length distribution
    (max/p50/p99), and what fraction of the group's characters a
    ``keep="first"`` removal would cut (``removal_char_frac`` — an
    UPPER bound, Σ span length / Σ chars: overlapping spans double-count
    before the interval merge — the number that decides whether span
    dedup is worth running on this corpus).
    ``group_col=None`` reports one global row; pass ``spans``
    to reuse an already-computed pair table (otherwise
    :func:`shared_span_pairs` runs with ``span_kwargs``).

    Scale shape: the span table aggregated once per group + one slim
    per-group char-count aggregate over ``df`` joined back — both keyed,
    nothing beyond the pair generation itself.
    """
    if spans is None:
        spans = shared_span_pairs(
            df, text_col=text_col, id_col=id_col, **span_kwargs
        )
    gb = [group_col] if group_col else []
    # attribute each span to its doc_b (the copy keep="first" removes);
    # group attribution follows doc_b's group
    sp = spans.join(
        df.select(
            F.col(id_col).alias("doc_b"),
            *[F.col(c) for c in gb],
        ),
        "doc_b",
    )
    # a constant key makes the global (ungrouped) case a plain left
    # join too — an empty span table must still yield the one report row
    gk = gb or ["_gk"]
    if not gb:
        sp = sp.withColumn("_gk", F.lit(1))
    agg = sp.groupBy(*gk).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count_distinct(F.col("doc_a"), F.col("doc_b")).alias("n_pairs"),
        F.max("length").alias("max_span"),
        F.expr("percentile(length, 0.5)").cast("long").alias("p50_span"),
        F.expr("percentile(length, 0.99)").cast("long").alias("p99_span"),
        F.sum("length").alias("_cut_chars_ub"),
    )
    chars = df.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "total_chars"
        ),
    )
    if not gb:
        chars = chars.withColumn("_gk", F.lit(1))
    # NULL-SAFE group join: a NULL group value is a real slice whose
    # span mass must attach — name-list equality would silently report
    # it as span-free
    agg_r = agg.select(
        *[F.col(g).alias(f"_jr_{g}") for g in gk],
        *[c for c in agg.columns if c not in gk],
    )
    cond = None
    for g in gk:
        c = F.col(g).eqNullSafe(F.col(f"_jr_{g}"))
        cond = c if cond is None else (cond & c)
    joined = chars.join(agg_r, on=cond, how="left").drop(
        *[f"_jr_{g}" for g in gk]
    )
    return joined.select(
        *gb,
        "n_docs",
        "total_chars",
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.coalesce(F.col("max_span"), F.lit(0)).alias("max_span"),
        F.coalesce(F.col("p50_span"), F.lit(0)).alias("p50_span"),
        F.coalesce(F.col("p99_span"), F.lit(0)).alias("p99_span"),
        # zero guard: a group whose texts are all empty/NULL has
        # total_chars = 0 — report 0.0, not NULL (NULL would make every
        # downstream threshold comparison silently skip the group)
        F.when(
            F.col("total_chars") > 0,
            F.round(
                F.coalesce(F.col("_cut_chars_ub"), F.lit(0))
                / F.col("total_chars"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("removal_char_frac"),
    )


def remove_shared_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "first",
) -> DataFrame:
    """Cut shared spans out of the corpus. ``keep="first"`` (default)
    removes each span only from the LATER document of its pair (min-id
    copy survives — the repo-wide survivor rule); ``keep="none"`` removes
    every occurrence from both sides (the reference family's default,
    which they note barely changes results). All other columns of ``df``
    are preserved; only ``text_col`` is rewritten. One groupBy(doc) on
    the span side + two keyed joins against the slim cut table
    (broadcast-eligible) + an Arrow cut — overlapping spans are
    interval-merged per document before cutting.

    Only documents that HAVE cuts cross the Python boundary: the corpus
    splits into a cut side (inner join → Arrow rewrite) and an untouched
    side (anti join — text never leaves the JVM), then unions. At a
    few-percent duplicate rate this drops the Arrow roundtrip to a few
    percent of corpus chars instead of all of them — the dominant cost
    of the removal stage at 100 TB."""
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    sides = [
        spans.select(
            F.col("doc_b").alias("_rid"),
            F.col("start_b").alias("_s"),
            F.col("length").alias("_l"),
        )
    ]
    if keep == "none":
        sides.append(
            spans.select(
                F.col("doc_a").alias("_rid"),
                F.col("start_a").alias("_s"),
                F.col("length").alias("_l"),
            )
        )
    cuts = (
        sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
    ).groupBy("_rid").agg(
        F.collect_list(F.struct(F.col("_s"), F.col("_l"))).alias("_cuts")
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def cut_spans(text, cut_lists):
        import pandas as pd

        out = []
        for t, cl in zip(text, cut_lists):
            if t is None or cl is None or len(cl) == 0:
                out.append(t)
                continue
            ivs = sorted((int(c["_s"]), int(c["_s"]) + int(c["_l"]))
                         for c in cl)
            merged = [list(ivs[0])]
            for s, e in ivs[1:]:
                if s <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
            pieces, prev = [], 0
            for s, e in merged:
                pieces.append(t[prev:s])
                prev = e
            pieces.append(t[prev:])
            out.append("".join(pieces))
        return pd.Series(out)

    on = F.col(id_col).eqNullSafe(F.col("_rid"))
    rewritten = (
        df.join(cuts, on=on, how="inner")
        .withColumn(text_col, cut_spans(F.col(text_col), F.col("_cuts")))
        .drop("_rid", "_cuts")
    )
    untouched = df.join(cuts, on=on, how="left_anti")
    return untouched.unionByName(rewritten)


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = 50,
    gram: int = 16,
    max_fp_df: int | None = 64,
    max_anchors_per_pair: int = 256,
    max_pairs_per_doc: int | None = None,
    keep: str = "first",
    valve: str = "exact",
    valve_k: int = 65536,
    _precomputed_fps: DataFrame | None = None,
    _return_spans: bool = False,
):
    """End-to-end exact-substring dedup: detect every cross-document span
    of >= ``min_span`` verbatim-shared characters and cut it from all but
    the earliest document (``keep="first"``) or from every document
    (``keep="none"``). Returns ``df`` with ``text_col`` rewritten and all
    other columns intact. The span table is materialized once
    (localCheckpoint) because the removal join is its only consumer but
    the pair plan above it is expensive to recompute on retry.

    ``_precomputed_fps`` passes through to :func:`shared_span_pairs`
    (same exact-match contract); ``_return_spans=True`` additionally
    returns the materialized span table as ``(result, spans)`` — what
    :func:`incremental_span_dedup` uses to know which docs this pass cut
    so it can roll a fingerprint snapshot forward without re-winnowing
    untouched documents."""
    spans = shared_span_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        min_span=min_span,
        gram=gram,
        max_fp_df=max_fp_df,
        max_anchors_per_pair=max_anchors_per_pair,
        max_pairs_per_doc=max_pairs_per_doc,
        valve=valve,
        valve_k=valve_k,
        _precomputed_fps=_precomputed_fps,
    ).localCheckpoint()
    result = remove_shared_spans(
        df, spans, text_col=text_col, id_col=id_col, keep=keep
    )
    return (result, spans) if _return_spans else result


def boilerplate_templates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    min_span: int = 50,
    gram: int = 16,
    min_df: int | float = 0.05,
    sample_docs: int = 6,
    max_hot_fps: int = 4096,
    max_templates: int = 256,
    max_anchors_per_pair: int = 256,
    _precomputed_fps: DataFrame | None = None,
) -> DataFrame:
    """Mine UNIVERSAL boilerplate templates — verbatim strings of length
    >= ``min_span`` present in at least ``min_df`` documents (int:
    absolute count; float: fraction of the corpus / of each
    ``group_col`` slice) — at linear cost. This is the report-then-strip
    path the hostile-template analysis prescribes (SCALE.md round-8
    table): pairwise span dedup detects a template shared by D documents
    only via its quadratic D²/2 pair table, which ``max_fp_df`` rightly
    valves away; but the SAME hot fingerprints the valve drops are
    exactly the template's evidence. Returns one row per confirmed
    template: (``group_col``?, template, length, n_docs, doc_frac).

    Method (every stage linear or valve-bounded — never all-pairs):

    1. winnow fingerprints (one Arrow pass; reuse ``_precomputed_fps``
       under the usual exact-match contract);
    2. per-fp document frequency (one groupBy — the same cost class as
       the ``max_fp_df`` valve itself); fps with df >= the threshold are
       template evidence, capped at the ``max_hot_fps`` hottest;
    3. per hot fp, sample ``sample_docs`` carrier docs (ordered by
       ``xxhash64(fp, id)`` so different fps sample DIFFERENT docs — one
       near-duplicate pair cannot poison every fp's candidate) and
       extend disjoint sample pairs to their maximal shared span with
       the standard anchor extension — cost ≤ max_hot_fps ×
       sample_docs/2 pairs, independent of the template's true df;
    4. candidate strings cut JVM-side (``substring``), deduped, capped
       at 4×``max_templates`` longest per group;
    5. support VERIFIED exactly for EVERY candidate: candidates
       broadcast against the corpus on a codegen'd ``contains`` scan
       (the decontaminate_substring shape — corpus_rows × candidates
       char scans, one pass, zero shuffle) and kept only at verified
       df >= threshold, capped at ``max_templates`` by support — a
       sampled pair that shared MORE than the template (genuine
       near-dups, or a filler boundary char that happens to match)
       yields an over-long candidate that fails here while the true
       template it contains passes; nested survivors are deliberately
       both kept (strip replaces longest-first, and a substring with
       independent support is a real template of its own).

    Winnowing guarantee → completeness: a template of length >=
    ``min_span`` contains at least one full selection window, whose
    (content-determined) fingerprint is selected by EVERY carrier doc,
    so its df equals the template's df and step 2 cannot miss it.
    Boundary exactness: anchor extension stops at the first differing
    char, so two docs sharing only the template yield the template
    verbatim. ``strip_boilerplate`` consumes this report.
    """
    from pyspark.sql import Window

    gb = [group_col] if group_col else []
    fps = (
        _precomputed_fps
        if _precomputed_fps is not None
        else winnow_fingerprints(
            df, text_col=text_col, id_col=id_col,
            min_span=min_span, gram=gram,
        )
    )
    if group_col:
        fps = fps.join(
            df.select(F.col(id_col), F.col(group_col)), id_col
        )
    if _precomputed_fps is None:
        # feeds the df-count groupBy AND the sample join
        fps = fps.localCheckpoint()

    # slice doc counts (1 row per group — broadcast) resolve a
    # fractional min_df into an absolute per-slice threshold
    counts = df.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("_slice_docs")
    )
    if isinstance(min_df, float):
        thr = F.ceil(F.col("_slice_docs") * F.lit(min_df)).cast("long")
    else:
        thr = F.lit(int(min_df)).cast("long")
    counts = counts.withColumn("_thr", F.greatest(thr, F.lit(2)))

    fp_df = fps.groupBy(*gb, "fp").agg(
        F.count_distinct(F.col(id_col)).alias("_fp_df")
    )
    if gb:
        hot = fp_df.join(F.broadcast(counts), on=gb)
    else:
        hot = fp_df.crossJoin(F.broadcast(counts))
    hot = hot.filter(F.col("_fp_df") >= F.col("_thr"))
    # hottest-first cap: boilerplate fps are rare by construction (df >=
    # a corpus-fraction threshold), so this table is small; the cap is
    # the safety valve, same contract as max_fp_df
    part = [F.col(g) for g in gb] if gb else [F.lit(1)]
    hot = (
        hot.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(*part).orderBy(
                    F.col("_fp_df").desc(), F.col("fp")
                )
            ),
        )
        .filter(F.col("_rk") <= max_hot_fps)
        .select(*gb, "fp", "_thr", "_slice_docs")
    )

    # sample carrier docs per hot fp, hash-ordered for decorrelation;
    # disjoint consecutive pairs (1,2)(3,4)... so one polluted pair
    # cannot poison the fp's other candidates
    samp = (
        fps.join(hot.select(*gb, "fp"), on=[*gb, "fp"])
        .groupBy(*gb, "fp", id_col)
        .agg(F.min("pos").alias("pos"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*([*gb, "fp"])).orderBy(
                    F.xxhash64(F.col("fp"), F.col(id_col)),
                    F.col(id_col),
                )
            ),
        )
        .filter(F.col("_rn") <= sample_docs)
        .withColumn("_pid", ((F.col("_rn") - 1) / 2).cast("int"))
    )
    pairs = (
        samp.groupBy(*gb, "fp", "_pid")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("_rn"), F.col(id_col).alias("_id"),
                             F.col("pos"))
                )
            ).alias("_pp")
        )
        .filter(F.size("_pp") == 2)
    )
    e0, e1 = F.col("_pp")[0], F.col("_pp")[1]
    # orient doc_a < doc_b so the same physical pair sampled by several
    # fps lands in ONE anchor group
    swap = e0["_id"] > e1["_id"]
    anchors = (
        pairs.select(
            F.when(swap, e1["_id"]).otherwise(e0["_id"]).alias("doc_a"),
            F.when(swap, e0["_id"]).otherwise(e1["_id"]).alias("doc_b"),
            F.when(swap, e1["pos"]).otherwise(e0["pos"]).alias("pos_a"),
            F.when(swap, e0["pos"]).otherwise(e1["pos"]).alias("pos_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos_a"), F.col("pos_b")))
                ),
                1,
                max_anchors_per_pair,
            ).alias("_anchors")
        )
    )
    docs = df.select(F.col(id_col), F.col(text_col))
    spans = _extend_pair_anchors(
        anchors, docs, docs, text_col, id_col,
        df.schema[id_col].dataType, gram, min_span,
    )
    # candidate strings, cut JVM-side; group re-attached via doc_a
    cand = spans.join(
        df.select(
            F.col(id_col).alias("doc_a"),
            F.col(text_col).alias("_ta"),
            *[F.col(g) for g in gb],
        ),
        "doc_a",
    ).select(
        *gb,
        F.substring(
            F.col("_ta"), F.col("start_a") + 1, F.col("length")
        ).alias("_tpl"),
    ).distinct()
    cand = (
        cand.withColumn("_len", F.length("_tpl"))
        .filter(F.col("_len") >= min_span)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(*part).orderBy(
                    F.col("_len").desc(), F.col("_tpl")
                )
            ),
        )
        .filter(F.col("_rk") <= 4 * max_templates)
    )
    # ALL bounded candidates go to support verification — deliberately
    # NO substring-collapse first: a boundary-coincidence candidate
    # (filler char + template) out-lengths the true template but fails
    # verification, while the true template it contains must survive;
    # conversely a short template with INDEPENDENT support must stay
    # reportable beside a longer one containing it. Nested survivors are
    # harmless downstream: strip_boilerplate replaces longest-first.
    kept_rows = [
        (*(tuple(r[g] for g in gb)), r["_tpl"])
        for r in cand.select(*gb, "_tpl").collect()
    ]

    spark = df.sparkSession
    gtypes = [df.schema[g] for g in gb]
    vschema = T.StructType(
        [*gtypes, T.StructField("template", T.StringType())]
    )
    from datamunging_spark.sources.io import local_table

    verify = local_table(spark, kept_rows, vschema)
    rep_schema = T.StructType(
        [
            *gtypes,
            T.StructField("template", T.StringType()),
            T.StructField("length", T.IntegerType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("doc_frac", T.DoubleType()),
        ]
    )
    if not kept_rows:
        return spark.createDataFrame([], rep_schema)

    # exact support: broadcast candidates, codegen'd contains scan —
    # one corpus pass, zero shuffle below the final tiny groupBy
    vr = verify.select(
        *[F.col(g).alias(f"_vg_{g}") for g in gb], "template"
    )
    cond = F.col(text_col).contains(F.col("template"))
    for g in gb:
        cond = cond & F.col(g).eqNullSafe(F.col(f"_vg_{g}"))
    support = (
        df.join(F.broadcast(vr), on=cond)
        .groupBy(*[f"_vg_{g}" for g in gb], "template")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    )
    on = (
        [
            F.col(f"_vg_{g}").eqNullSafe(F.col(f"_cg_{g}"))
            for g in gb
        ]
        if gb
        else None
    )
    counts_r = counts.select(
        *[F.col(g).alias(f"_cg_{g}") for g in gb], "_thr", "_slice_docs"
    )
    if gb:
        joincond = on[0]
        for c in on[1:]:
            joincond = joincond & c
        support = support.join(F.broadcast(counts_r), on=joincond)
    else:
        support = support.crossJoin(F.broadcast(counts_r))
    vpart = (
        [F.col(f"_vg_{g}") for g in gb] if gb else [F.lit(1)]
    )
    return (
        support.filter(F.col("n_docs") >= F.col("_thr"))
        .withColumn(
            "_frk",
            F.row_number().over(
                Window.partitionBy(*vpart).orderBy(
                    F.col("n_docs").desc(),
                    F.length("template").desc(),
                    F.col("template"),
                )
            ),
        )
        .filter(F.col("_frk") <= max_templates)
        .select(
            *[F.col(f"_vg_{g}").alias(g) for g in gb],
            "template",
            F.length("template").alias("length"),
            "n_docs",
            F.round(F.col("n_docs") / F.col("_slice_docs"), 6).alias(
                "doc_frac"
            ),
        )
    )


def _ac_find_matches(text: str, auto):
    """All pattern occurrences in ``text`` as ``(start, pattern_id)``
    pairs, one automaton scan (chars read once, independent of pattern
    count). ``auto`` is ``trainset._ac_build`` output — its ``out[s]``
    carries the indices of every pattern ending at state ``s``
    (fail-closure included), so overlapping and nested hits all emit."""
    goto, fail, out = auto
    s = 0
    hits = []
    for i, ch in enumerate(text):
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        for pid in out[s]:
            hits.append((i + 1, pid))  # (end_exclusive, pattern)
    return hits


def _strip_once(text: str, auto, lens, order) -> str:
    """Single-pass automaton strip of one document: find every template
    occurrence (one scan), then resolve overlaps in CHAIN ORDER —
    templates by (length desc, lexicographic), occurrences of one
    template left-to-right — accepting each occurrence iff it overlaps
    no already-accepted cut. This reproduces the replace chain's
    longest-first greedy preference without scanning the text once per
    template. Documented divergence from the chain (both pathological
    for mined >=min_span boilerplate): occurrences CREATED by an earlier
    template's removal (seam joins) are not seen by the single scan, and
    a removal can phase-shift the chain's leftmost-non-overlapping walk
    for a later template.

    ``lens[pid]``/``order[pid]`` are the template's length and its rank
    in the chain sort, both driver-computed once per strip call.
    """
    hits = _ac_find_matches(text, auto)
    if not hits:
        return text
    # (chain rank, start) — exactly the replace chain's visit order.
    hits.sort(key=lambda h: (order[h[1]], h[0]))
    cuts = []  # accepted (start, end), kept sorted by start
    import bisect

    for end, pid in hits:
        start = end - lens[pid]
        j = bisect.bisect_right(cuts, (start, end))
        if j > 0 and cuts[j - 1][1] > start:
            continue  # overlaps the accepted cut starting before us
        if j < len(cuts) and cuts[j][0] < end:
            continue  # overlaps the accepted cut starting after us
        cuts.insert(j, (start, end))
    if not cuts:
        return text
    parts = []
    pos = 0
    for start, end in cuts:
        parts.append(text[pos:start])
        pos = end
    parts.append(text[pos:])
    return "".join(parts)


# One broadcast per distinct template chain per application — the same
# contract as bloom._BC_CACHE: repeated strip_boilerplate(automaton)
# calls with an unchanged blocklist (every micro-batch of a curation
# loop) must not stack fresh driver/executor copies of the pure-Python
# goto/out structure, which is large near the 100k-template cap.
# Content-keyed (length-prefixed template digest); released explicitly
# via strip_release when a loop retires its blocklist.
_AC_BC_CACHE: dict = {}


def _ac_key(spark, chain: list[str]):
    import hashlib

    h = hashlib.sha256()
    for t in chain:
        b = t.encode("utf-8")
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    return (spark.sparkContext.applicationId, h.hexdigest())


def _evict_dead_apps(app_id: str) -> None:
    """Drop cache entries broadcast by a DIFFERENT application — after
    a session/app restart their keys can never match again (the key
    embeds applicationId), so without this sweep they pin driver-side
    Broadcast handles for the process lifetime (r11 ADVICE)."""
    for k in [k for k in _AC_BC_CACHE if k[0] != app_id]:
        bc = _AC_BC_CACHE.pop(k)
        try:
            bc.unpersist()
        except Exception:
            pass  # the owning app is gone; the handle is already dead


def _ac_broadcast(spark, chain: list[str]):
    """Cached broadcast of ``(_ac_build(chain), template lengths)`` for
    the automaton strip tier. ``chain`` must already be in chain order
    (length desc, lexicographic) — the key hashes it as given."""
    from datamunging_spark.operators.trainset import _ac_build

    _evict_dead_apps(spark.sparkContext.applicationId)
    key = _ac_key(spark, chain)
    bc = _AC_BC_CACHE.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast(
            (_ac_build(chain), tuple(len(t) for t in chain))
        )
        _AC_BC_CACHE[key] = bc
    return bc


def strip_release(templates) -> bool:
    """Unpersist the cached automaton broadcast for ``templates`` (a
    list of template strings or a :func:`boilerplate_templates` report
    DataFrame) — call when a long-running loop advances its blocklist so
    retired automatons do not accumulate for the session lifetime.
    Queries still holding the returned DataFrame must have finished.
    Returns True when a broadcast was released."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:  # nothing broadcast without a session to hold it
        return False
    _evict_dead_apps(spark.sparkContext.applicationId)
    if isinstance(templates, _DF):
        tpls = [
            r["template"]
            for r in templates.select("template").distinct().collect()
        ]
    else:
        tpls = list(dict.fromkeys(templates))
    chain = sorted([t for t in tpls if t], key=lambda s: (-len(s), s))
    bc = _AC_BC_CACHE.pop(_ac_key(spark, chain), None)
    if bc is None:
        return False
    bc.unpersist()
    return True


def strip_boilerplate(
    df: DataFrame,
    templates=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    max_strip_templates: int = 1024,
    strip_mode: str = "auto",
    _chain_batch: int = 64,
    **mine_kwargs,
):
    """Remove every occurrence of each universal boilerplate template
    from every document — the STRIP half of the report-then-strip path
    (C4/CCNet boilerplate-removal precedent; run it BEFORE ``span_dedup``
    so pairwise dedup sees a template-free corpus and the ``max_fp_df``
    valve only ever drops what this pass already handled).

    ``templates`` may be a :func:`boilerplate_templates` report
    DataFrame, a list of literal strings, or None (mine first with
    ``mine_kwargs``; the mined report is also returned as
    ``(result, report)`` in that case). Templates are applied to ALL
    documents regardless of the group they were mined in: a verbatim
    >=min_span boilerplate string is boilerplate wherever it appears.

    Two execution tiers, picked by ``strip_mode``:

    - ``"replace"`` — JVM-side literal replacement, longest template
      first (nested templates resolve greedily): no shuffle, no Python
      boundary, linear in corpus chars × templates. Up to
      ``_chain_batch`` templates it is a nested ``F.replace`` chain
      (one codegen'd projection); beyond that a single ``F.aggregate``
      fold over the template-array literal — constant plan depth, the
      same sequential semantics, each replace still the JVM string
      engine with only per-template lambda dispatch interpreted. (A
      deep nested chain is NOT an option at 1024: Catalyst's
      CollapseProject re-fuses batched projections into one
      1024-deep expression whose toString/codegen overflows the stack
      — measured, not theoretical.) Capped at ``max_strip_templates``
      (raises above it — each char is rescanned once per template, so
      blocklist-scale sets belong to the automaton).
    - ``"automaton"`` — an Aho-Corasick pass (``trainset._ac_build``,
      the ``decontaminate_substring`` multipattern machinery) inside
      ``mapInPandas``: the automaton builds once driver-side, rides to
      executors as a content-keyed CACHED broadcast (repeated calls
      with an unchanged blocklist reuse one executor-resident copy;
      release a retired blocklist with :func:`strip_release` — the
      bloom_might_contain/bloom_release contract), and each
      document's chars are scanned
      ONCE regardless of template count; overlaps resolve in the replace
      chain's longest-first order (see :func:`_strip_once`, incl. the
      two documented seam/phase divergences). Sanity-capped at 100k
      templates like the decontaminate automaton (pure-Python build;
      the C-backed ``pyahocorasick`` is the production swap-in).
    - ``"auto"`` (default) — ``"replace"`` up to ``max_strip_templates``
      (it is faster: codegen'd, no Arrow hop), ``"automaton"`` beyond.
    """
    mined = None
    if templates is None:
        mined = boilerplate_templates(
            df, text_col=text_col, id_col=id_col,
            group_col=group_col, **mine_kwargs,
        ).localCheckpoint()  # feeds the strip AND the returned report
        tpls = [r["template"] for r in mined.select("template").collect()]
    elif isinstance(templates, DataFrame):
        tpls = [
            r["template"]
            for r in templates.select("template").distinct().collect()
        ]
    else:
        tpls = list(templates)
    # dedupe on EVERY path (a grouped mined report carries one row per
    # (group, template)) — duplicates would skew the chain and, worse,
    # give the automaton cache a key strip_release's deduped chain can
    # never match, leaking the broadcast (r11 review catch)
    tpls = [t for t in dict.fromkeys(tpls) if t]  # empty = no-op cut
    if strip_mode == "auto":
        strip_mode = (
            "replace" if len(tpls) <= max_strip_templates else "automaton"
        )
    if strip_mode == "replace":
        if len(tpls) > max_strip_templates:
            raise ValueError(
                f"{len(tpls)} templates exceed max_strip_templates="
                f"{max_strip_templates} for strip_mode='replace'; use "
                "strip_mode='automaton' (one Aho-Corasick scan, "
                "template-count-independent) for blocklist-scale sets"
            )
        chain = sorted(tpls, key=lambda s: (-len(s), s))
        if len(chain) <= _chain_batch:
            col = F.col(text_col)
            for t in chain:
                col = F.replace(col, F.lit(t), F.lit(""))
        else:
            col = F.aggregate(
                F.array(*[F.lit(t) for t in chain]),
                F.col(text_col),
                lambda acc, t: F.replace(acc, t, F.lit("")),
            )
        result = df.withColumn(text_col, col)
        return (result, mined) if mined is not None else result
    if strip_mode != "automaton":
        raise ValueError(
            f"strip_mode must be 'auto'|'replace'|'automaton', got "
            f"{strip_mode!r}"
        )
    if len(tpls) > 100_000:
        raise ValueError(
            f"{len(tpls)} templates exceed the 100k driver-built "
            "automaton cap; swap in pyahocorasick for larger sets"
        )
    if not tpls:
        return (df, mined) if mined is not None else df
    chain = sorted(tpls, key=lambda s: (-len(s), s))
    auto = _ac_broadcast(df.sparkSession, chain)
    schema = df.schema
    ti = df.columns.index(text_col)

    def scan(batches):
        ac, lens = auto.value
        order = range(len(lens))  # chain already sorted → pid IS the rank
        for pdf in batches:
            pdf = pdf.copy()
            pdf.iloc[:, ti] = [
                _strip_once(t, ac, lens, order) if isinstance(t, str) else t
                for t in pdf.iloc[:, ti]
            ]
            yield pdf

    result = df.mapInPandas(scan, schema=schema)
    return (result, mined) if mined is not None else result


def incremental_shared_spans(
    batch: DataFrame,
    hist_fps: DataFrame,
    hist_texts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = 50,
    gram: int = 16,
    max_fp_df: int | None = 64,
    max_anchors_per_pair: int = 256,
    max_pairs_per_doc: int | None = None,
    _precomputed_batch_fps: DataFrame | None = None,
) -> DataFrame:
    """Spans shared between a NEW ingest batch and the historical corpus
    — the continuous-crawl face of :func:`shared_span_pairs`, following
    the repo's incremental-dedup contract: history participates as its
    slim fingerprint snapshot (:func:`winnow_fingerprints` output, ~6%
    of corpus chars x 16 B — persist and roll it forward per batch like
    ``advance_snapshot``), and history TEXT is fetched by a keyed join
    for CANDIDATE docs only — 100 TB of history is never rescanned.
    Output rows: (doc_a = history doc, doc_b = batch doc, offsets,
    length); doc id spaces of batch and history must be disjoint.

    Plan shape: batch fingerprints (one Arrow pass over the batch) →
    fp equi-join against the snapshot (history side of the exchange is
    the slim snapshot; bucket/persist it to drop even that) → joint
    hot-fp valve computed over the candidate fps only (batch-bounded,
    never a full-snapshot groupBy) → per-pair anchor groupBy → two keyed
    text joins (history side candidate-bounded) → Arrow extension.
    """
    batch_fps = (
        _precomputed_batch_fps
        if _precomputed_batch_fps is not None
        else winnow_fingerprints(
            batch, text_col=text_col, id_col=id_col,
            min_span=min_span, gram=gram,
        )
    )
    if _precomputed_batch_fps is None:
        batch_fps = batch_fps.localCheckpoint()
    if max_fp_df is not None:
        # joint document frequency, restricted to fps the BATCH carries:
        # semi-join the snapshot down to candidate fps first, then count
        # across both sides — the count input is batch-bounded
        bf = batch_fps.select("fp").distinct()
        # cand_hist feeds the joint count AND the join side; without
        # this the history-snapshot probe (the dominant cost) runs once
        # per branch — same materialize-once discipline as the
        # self-join path's fps table
        cand_hist = hist_fps.join(bf, "fp").localCheckpoint()
        joint = cand_hist.select("fp", id_col).unionByName(
            batch_fps.select("fp", id_col)
        )
        keep = (
            joint.groupBy("fp")
            .agg(F.count_distinct(F.col(id_col)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fp")
        )
        keep = keep.localCheckpoint()  # feeds both sides, fp-list slim
        hist_side = cand_hist.join(keep, "fp")
        batch_side = batch_fps.join(keep, "fp")
    else:
        hist_side = hist_fps
        batch_side = batch_fps
    anchors = (
        hist_side.select(
            "fp",
            F.col(id_col).alias("doc_a"),
            F.col("pos").alias("pos_a"),
        )
        .join(
            batch_side.select(
                "fp",
                F.col(id_col).alias("doc_b"),
                F.col("pos").alias("pos_b"),
            ),
            "fp",
        )
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos_a"), F.col("pos_b")))
                ),
                1,
                max_anchors_per_pair,
            ).alias("_anchors")
        )
    )
    if max_pairs_per_doc is not None:
        from datamunging_spark.operators.relational import cap_rows_per_key

        # the text-replication valve, per side — a template doc matching
        # very many partners keeps only its earliest pairs
        anchors = cap_rows_per_key(
            anchors, ["doc_a"], ["doc_b"], max_pairs_per_doc
        )
        anchors = cap_rows_per_key(
            anchors, ["doc_b"], ["doc_a"], max_pairs_per_doc
        )
    return _extend_pair_anchors(
        anchors,
        hist_texts.select(F.col(id_col), F.col(text_col)),
        batch.select(F.col(id_col), F.col(text_col)),
        text_col,
        id_col,
        batch.schema[id_col].dataType,
        gram,
        min_span,
    )


def incremental_span_dedup(
    batch: DataFrame,
    hist_fps: DataFrame,
    hist_texts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = 50,
    gram: int = 16,
    max_fp_df: int | None = 64,
    max_anchors_per_pair: int = 256,
    max_pairs_per_doc: int | None = None,
    within_batch: bool = True,
    _return_fps: bool = False,
    _precomputed_batch_fps: DataFrame | None = None,
):
    """Span-dedup a new ingest batch against history, then (by default)
    within the batch itself — completing the incremental family (exact:
    ``incremental_dedup``; fuzzy: ``incremental_minhash_dedup``; span:
    this). History always wins (its copy survives; the batch copy is
    cut), matching the keep-earliest rule everywhere else; the valves
    (``max_fp_df``/``max_anchors_per_pair``/``max_pairs_per_doc``) apply
    to BOTH passes. Returns the batch with ``text_col`` rewritten.

    The batch is WINNOWED EXACTLY ONCE for its untouched documents: the
    history pass's fingerprint table is reused for the within-batch pass
    by anti-joining out the docs the history pass cut and re-winnowing
    only those (cuts change a doc's downstream fingerprints; uncut docs'
    fingerprints are byte-identical to a fresh winnow, so the composed
    table equals ``winnow_fingerprints(cleaned)`` row-for-row — pinned
    by test). Same single-signing discipline as ``ingest_batch``.

    ``_return_fps=True`` also returns the fingerprint table of the
    RETURNED text — i.e. the exact increment to append when rolling a
    span snapshot forward (append-only, like ``advance_snapshot``) —
    maintained by the same cut-docs-only re-winnow, so the roll-forward
    costs one Arrow pass over cut docs, not the whole batch."""
    valves = dict(
        max_fp_df=max_fp_df,
        max_anchors_per_pair=max_anchors_per_pair,
        max_pairs_per_doc=max_pairs_per_doc,
    )
    if _precomputed_batch_fps is not None:
        # same contract as incremental_shared_spans'/_shared_span_pairs'
        # seam: a winnow_fingerprints table over EXACTLY ``batch``'s
        # current texts with the same (min_span, gram); the caller owns
        # materialization (it is usually already checkpointed — lets the
        # caller overlap the batch winnow with the history snapshot
        # build, guide §2.6)
        batch_fps = _precomputed_batch_fps
    else:
        # feeds the history join AND the within-batch reuse anti-join
        batch_fps = winnow_fingerprints(
            batch, text_col=text_col, id_col=id_col,
            min_span=min_span, gram=gram,
        ).localCheckpoint()
    spans = incremental_shared_spans(
        batch, hist_fps, hist_texts,
        text_col=text_col, id_col=id_col,
        min_span=min_span, gram=gram,
        _precomputed_batch_fps=batch_fps, **valves,
    ).localCheckpoint()
    cleaned = remove_shared_spans(
        batch, spans, text_col=text_col, id_col=id_col, keep="first"
    )
    if within_batch or _return_fps:
        # the history-cleaned batch feeds up to FIVE plan branches (the
        # cut-docs re-winnow semi-join, both text joins of the
        # within-batch pair plan, and both sides of the final removal) —
        # without this the removal's join + Arrow-cut sub-plan re-runs
        # per branch. Measured r9 (sf0.1 job audit of
        # x1_incremental_span): 58 → 46 jobs, warm wall 4.9 → 4.3 s.
        # Single-consumer calls (within_batch=False, no fp return)
        # skip it.
        cleaned = cleaned.localCheckpoint()

    def _refresh(fps, span_tbl, texts):
        """Fingerprints of ``texts`` given ``fps`` valid for the PRE-cut
        text: drop cut docs' rows, re-winnow just those docs."""
        cut_ids = span_tbl.select(
            F.col("doc_b").alias(id_col)
        ).distinct()
        kept = fps.join(cut_ids, on=id_col, how="left_anti")
        rewinnowed = winnow_fingerprints(
            texts.join(cut_ids, on=id_col, how="left_semi"),
            text_col=text_col, id_col=id_col,
            min_span=min_span, gram=gram,
        )
        return kept.unionByName(rewinnowed)

    cleaned_fps = _refresh(batch_fps, spans, cleaned)
    if not within_batch:
        return (cleaned, cleaned_fps) if _return_fps else cleaned
    # feeds three branches of the within-batch pair plan (valve
    # groupBy + both join sides) — same discipline as a fresh winnow
    cleaned_fps = cleaned_fps.localCheckpoint()
    final, within_spans = span_dedup(
        cleaned, text_col=text_col, id_col=id_col,
        min_span=min_span, gram=gram,
        _precomputed_fps=cleaned_fps, _return_spans=True, **valves,
    )
    if not _return_fps:
        return final
    return final, _refresh(cleaned_fps, within_spans, final)
