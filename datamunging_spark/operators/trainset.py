"""Training-set assembly operators: benchmark decontamination, weighted
source mixing, and deterministic global shuffle.

These are the pipeline steps between a curated corpus (operators/pipeline.py)
and a training run: drop documents that leak evaluation data, re-weight
sources to a target mixture, and fix a reproducible sample/order. All three
are expression-only (no Python in the hot path) and deterministic via the
portable md5 predicates from datamunging_spark.functions, so every step is
cross-engine reproducible — the property that makes training-data lineage
auditable outside Spark.

Scale shapes (see SCALE.md):
- decontamination: benchmark gram set is broadcast (eval suites are tiny
  next to a 100 TB corpus), so the corpus side is explode → broadcast-join →
  map-side-combined count per doc — no corpus shuffle at all.
- source mixing: pure per-row expressions (map weight lookup + md5
  predicate + bounded explode); zero shuffles.
- training shuffle: exactly one range-partitioning exchange on a uniform
  md5 key — the minimum any global shuffle costs; sortWithinPartitions adds
  no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datamunging_spark.operators.dedup import exploded_ngrams

__all__ = [
    "assign_token_shards",
    "cap_tokens_per_group",
    "contamination_report",
    "pack_sequences",
    "take_token_budget",
    "write_training_shards",
    "decontaminate",
    "decontaminate_fuzzy",
    "decontaminate_substring",
    "source_mix",
    "split_dataset",
    "training_shuffle",
]


def split_dataset(
    df: DataFrame,
    weights: dict[str, float],
    id_cols: list[str],
    salt: str = "0",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: add ``split_col`` labeling
    each row by hashing its identity into [0, 1) and cutting at the
    cumulative ``weights`` boundaries (insertion order; weights must sum
    to ~1).

    Same portable-md5 discipline as the rest of the X5 family: the
    assignment is a pure per-row expression — no shuffle, no RNG stream —
    identical on any engine, any partition layout, and any subset of the
    data (a doc's split never changes when the corpus around it grows,
    which is what makes held-out sets stable across corpus versions).
    ``salt`` re-deals the assignment wholesale; ``id_cols`` must uniquely
    identify a row (the same contract as ``training_shuffle``).

    Cut granularity is 1/16^8 (~6e-10) of the unit interval — far below
    any practical split ratio.
    """
    from datamunging_spark.functions import salted_row_key

    total = sum(weights.values())
    if not weights or any(w < 0 for w in weights.values()) or total <= 0:
        raise ValueError(f"invalid split weights: {weights}")
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split weights must sum to 1, got {total}")
    scale = 16**8
    u = F.conv(
        F.substring(salted_row_key(id_cols, salt), 1, 8), 16, 10
    ).cast("long")
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cut = F.lit(int(acc * scale))
        tagged = F.when(u < cut, F.lit(name))
        expr = tagged if expr is None else expr.when(u < cut, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 5,
    min_overlap: int = 2,
) -> DataFrame:
    """Per-document contamination counts: how many distinct word ``n``-grams
    of each corpus doc appear anywhere in the benchmark (eval) set.

    The standard LLM decontamination primitive (GPT-3-style n-gram
    collision): a training doc is contaminated when it shares at least
    ``min_overlap`` distinct n-grams with the union of benchmark grams.
    Returns (id_col, overlap_grams) for contaminated docs only.

    Plan: corpus grams come from :func:`~.dedup.exploded_ngrams` (posexplode
    + window-lead, codegen-friendly); the benchmark gram set is deduped and
    broadcast — eval sets are KBs-to-MBs against a 100 TB corpus, the
    textbook broadcast dimension. The per-doc DISTINCT is applied AFTER
    the broadcast join — deduplicating the full corpus gram table first
    (the r6 form) paid a second full-corpus (id, gram) exchange; matched
    grams are eval-set-bounded, so ``count_distinct`` over them is a
    map-side-combinable aggregate whose shuffle carries only contaminated
    rows. Same semantics (count of a doc's distinct grams present in the
    benchmark), one corpus-scale exchange instead of two.
    """
    bench_grams = (
        exploded_ngrams(
            benchmark, bench_text_col or text_col, id_col, n, distinct=False
        )
        .select("_sh")
        .distinct()
    )
    corpus_grams = exploded_ngrams(
        corpus, text_col, id_col, n, distinct=False
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "_sh")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("_sh")).alias("overlap_grams"))
        .filter(F.col("overlap_grams") >= min_overlap)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **report_kwargs,
) -> DataFrame:
    """Remove benchmark-contaminated documents from the corpus: anti-join
    against :func:`contamination_report`. The report side is a small id set
    (contaminated docs only), so the anti-join broadcasts."""
    bad = contamination_report(
        corpus, benchmark, text_col, id_col, **report_kwargs
    ).select(id_col)
    return corpus.join(bad, on=id_col, how="left_anti")


def _ac_build(patterns: list[str]):
    """Build an Aho-Corasick automaton (goto/fail/output) driver-side as
    plain picklable lists — the classic multi-pattern matcher: one pass
    over the text finds ANY of n patterns, independent of n. Pure-Python
    structure sized for eval-suite/binary-CI blocklists; a production
    10^6-pattern deployment swaps in the C-backed ``pyahocorasick``
    automaton behind the same seam (imported if available in
    ``_ac_find_any``).

    ``out[state]`` is the tuple of PATTERN INDICES (into ``patterns``)
    whose match ends at that state, fail-closure included — truthy iff
    any pattern ends here, so the boolean consumers (``_ac_find_any``)
    are unchanged, while occurrence consumers
    (``spandedup._ac_find_matches`` — the blocklist-scale strip path)
    recover each match's identity and length without a second automaton.
    """
    goto: list[dict[str, int]] = [{}]
    # Built as sets (O(1) closure merges — the tuple-concat + linear
    # membership scan version was O(|out|^2) per state on deep shared
    # suffixes near the 100k cap), frozen to sorted tuples at the end
    # so the broadcast/pickled structure stays compact and
    # deterministic. Consumers don't depend on order (_ac_find_any is
    # truthiness-only; _ac_find_matches re-sorts hits globally).
    out: list[set] = [set()]
    for i, pat in enumerate(patterns):
        s = 0
        for ch in pat:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append(set())
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].add(i)
    fail = [0] * len(goto)
    from collections import deque

    q = deque(goto[0].values())
    while q:
        s = q.popleft()
        for ch, t in goto[s].items():
            q.append(t)
            f = fail[s]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[t] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != t else 0
            # The closure merge happens when t's PARENT pops (i.e. at
            # t's enqueue) — sound because fail[t] is strictly
            # shallower than t, so fail[t]'s own closure completed in
            # an earlier BFS layer.
            out[t] |= out[fail[t]]
    return goto, fail, [tuple(sorted(o)) for o in out]


def _ac_find_any(text: str, auto) -> bool:
    """True iff ``text`` contains any automaton pattern (first-hit exit)."""
    goto, fail, out = auto
    s = 0
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        if out[s]:
            return True
    return False


def decontaminate_substring(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str | None = None,
    min_len: int = 20,
    matcher: str = "join",
) -> DataFrame:
    r"""Exact-substring decontamination: drop corpus docs that CONTAIN any
    benchmark string verbatim (normalized) — the right mode for short
    eval payloads (answer strings, test prompts) that n-gram collision
    (:func:`decontaminate`) can miss when the payload is shorter than the
    gram window and :func:`decontaminate_fuzzy` can miss when it is a
    tiny fraction of the doc.

    Scale shape: the benchmark strings (normalized, deduped, length ≥
    ``min_len`` to avoid stop-phrase false kills) form the BROADCAST side
    of a nested-loop LEFT ANTI join on a ``contains`` predicate — the
    probe set rides to every executor once and the corpus pays a single
    pass, zero shuffle, with the substring test compiled JVM-side.
    (An earlier form inlined the probes as an array literal probed by an
    ``exists(..., contains)`` HOF; semantically identical, but the HOF
    is interpreted per element — the anti-join plans the same work
    through codegen'd BroadcastNestedLoopJoin and measured ~8× faster at
    sf0.1.) Cost is corpus_rows × bench_strings char scans —
    embarrassingly parallel, fine for the eval-suite-sized benchmarks
    this targets. ``matcher="multipattern"`` switches candidate testing
    to an Aho-Corasick automaton scanned inside ``mapInPandas`` — one
    pass over each doc finds ANY of n patterns, independent of n, which
    is the blocklist-scale shape (the join mode is corpus × probes char
    scans). The automaton builds once driver-side and rides to executors
    as a broadcast; the pure-Python structure here is correctness-sized
    (cross-checked against the join mode in tests), with the C-backed
    ``pyahocorasick`` automaton as the documented production swap-in,
    guarded by a 100k-string sanity cap on the driver-built automaton
    (the broadcast analog of autoBroadcastJoinThreshold; counted from
    the collected pattern list — no extra job). The join matcher runs
    NO eager action: an empty probe set anti-joins to the unchanged
    corpus naturally, and oversize probe sets are the multipattern
    matcher's job by contract (the join mode's corpus × probes scan cost
    makes a 100k-probe join a non-starter long before the broadcast
    limit bites) — keeping the plan lazy saves a count job per call,
    which at bench scale was ~15% of the whole query.

    Parity seam: multipattern mode normalizes in Python (``str.lower`` +
    an ASCII-whitespace regex mirroring Java ``\s``); JVM and Python
    agree on ASCII but can differ on locale-sensitive case mappings
    (Turkish dotted-I, ligatures) — the cross-matcher parity test pins
    the driver corpus, and non-ASCII-heavy corpora should prefer one
    matcher consistently.
    """
    from datamunging_spark.functions import normalize_text
    from datamunging_spark.operators.relational import _reserved_tmp_guard

    _reserved_tmp_guard(corpus, ("_norm",), "decontaminate_substring")
    btc = bench_text_col or text_col
    probes = (
        benchmark.select(normalize_text(F.col(btc)).alias("_probe"))
        .filter(F.length("_probe") >= min_len)
        .distinct()
    )
    if matcher == "multipattern":
        pats = [r["_probe"] for r in probes.limit(100_001).collect()]
        if len(pats) > 100_000:
            raise ValueError(
                "benchmark has >100k distinct strings; use decontaminate "
                "(n-gram collision) or an Aho-Corasick pandas_udf for "
                "blocklist-scale pattern sets"
            )
        if not pats:
            return corpus
        spark = corpus.sparkSession
        bc = spark.sparkContext.broadcast(_ac_build(pats))
        schema = corpus.schema
        ti = corpus.columns.index(text_col)

        def scan(batches):
            auto = bc.value
            import re as _re

            # mirror normalize_text exactly: Java \s is ASCII-only
            ws = _re.compile(r"[ \t\n\r\f\x0b]+")
            for pdf in batches:
                texts = pdf.iloc[:, ti]
                mask = [
                    not _ac_find_any(
                        ws.sub(" ", t.lower()).strip(), auto
                    )
                    if isinstance(t, str)
                    else True
                    for t in texts
                ]
                yield pdf[mask]

        return corpus.mapInPandas(scan, schema=schema)
    if matcher != "join":
        raise ValueError(f"unknown matcher: {matcher!r}")
    # normalize ONCE per row in a projection BELOW the join: referencing
    # the normalize_text expression inside the join condition would
    # re-run the regex chain per (row, probe) comparison — measured 10×
    # slower at sf0.1 (the regex, not the contains scan, dominates)
    tagged = corpus.withColumn("_norm", normalize_text(F.col(text_col)))
    return tagged.join(
        F.broadcast(probes),
        on=F.col("_norm").contains(F.col("_probe")),
        how="left_anti",
    ).drop("_norm")


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """NEAR-match decontamination: drop corpus docs whose MinHash signature
    clears ``threshold`` Jaccard against ANY benchmark doc — catching the
    paraphrases/reformattings that exact n-gram collision
    (:func:`decontaminate`) misses. Standard practice is to run both:
    exact n-gram for verbatim leakage, fuzzy for light rewrites.

    Pure composition: the benchmark (tiny next to the corpus) is signed
    once into a signature table and the corpus is banded against it —
    exactly :func:`~datamunging_spark.operators.dedup.
    incremental_minhash_dedup` with the benchmark playing "history" and
    ``within_batch=False`` (decontamination must never dedupe the corpus
    against itself). History-side work is one scan of the benchmark
    signatures; corpus-side is one signing + band join.
    """
    from datamunging_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures_df,
    )

    bench = benchmark
    if bench_text_col is not None and bench_text_col != text_col:
        bench = bench.withColumnRenamed(bench_text_col, text_col)
    # benchmark ids never surface in the result; substitute a synthetic id
    # if the benchmark has no id_col (common for raw eval text dumps)
    if id_col not in bench.columns:
        bench = bench.withColumn(id_col, F.monotonically_increasing_id())
    bench_sig = minhash_signatures_df(
        bench, text_col, id_col, num_hashes, shingle_words
    ).localCheckpoint()
    return incremental_minhash_dedup(
        corpus,
        bench_sig,
        text_col,
        id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_words=shingle_words,
        within_batch=False,
    )


def source_mix(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Weighted source mixing: resample each source to ``weights[source]``×
    its volume (downsample when < 1, upsample with whole-copy repetition
    when > 1), the standard way a training mixture is rebalanced.

    Deterministic and engine-portable: a doc with weight w keeps
    ``floor(w)`` full copies plus one extra copy iff the first 4 hex chars
    of md5(id) fall under the fractional part — the same portable-predicate
    family as ``row_sample_pred``/``key_sample_pred`` (granularity 1/65536).
    Every kept row is tagged with its ``copy`` index (0-based) so downstream
    shuffles/dedup can tell repetitions apart.

    Pure per-row expressions: one map lookup, one bounded
    ``explode(sequence)``, one md5 — no shuffle, no UDF, safe at any scale.
    """
    bad = {s: w for s, w in weights.items() if w < 0}
    if bad or default_weight < 0:
        raise ValueError(f"negative mix weights: {bad or default_weight}")
    wmap = F.create_map(
        *[x for s, w in weights.items() for x in (F.lit(s), F.lit(float(w)))]
    )
    w = F.coalesce(wmap[F.col(source_col)], F.lit(float(default_weight)))
    floor_w = F.floor(w).cast("int")
    n_copies = F.ceil(w).cast("int")
    frac_thresh = F.lower(
        F.lpad(F.hex(F.floor((w - F.floor(w)) * 65536).cast("int")), 4, "0")
    )
    md5_frac = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(0), n_copies - F.lit(1))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.withColumn("copy", F.explode(copies))
        .filter(
            (F.col("copy") < floor_w)
            | ((F.col("copy") == floor_w) & (md5_frac < frac_thresh))
        )
    )


def training_shuffle(
    df: DataFrame,
    id_cols: list[str],
    salt: str = "0",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle for training order: a salted md5 key per
    row, range-partitioned and sorted within partitions — writing the result
    yields files that concatenate to one reproducible pseudorandom
    permutation of the corpus (change ``salt`` per epoch for a fresh order).

    Exactly one exchange (RangePartitioning on the uniform md5 key — skew
    impossible by construction); the in-partition sort is local. This is the
    scale-correct alternative to ``orderBy(rand())``'s non-reproducible key
    and to zipWithIndex-style RDD permutations.
    """
    from datamunging_spark.functions import salted_row_key

    from datamunging_spark.operators.relational import _shuffle_partitions

    out = df.select("*", salted_row_key(id_cols, salt).alias("shuffle_key"))
    parts = num_partitions or _shuffle_partitions(out.sparkSession)
    return out.repartitionByRange(int(parts), "shuffle_key").sortWithinPartitions(
        "shuffle_key"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    max_len: int = 2048,
    num_groups: int | None = None,
    token_counter=None,
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for training batches: assign each doc to a bin so
    that no bin exceeds ``max_len`` tokens — the standard sample-packing
    step that keeps context windows dense instead of padding-dominated.

    Packing is inherently sequential, so the scale shape is
    partition-parallel: docs are hashed into ``num_groups`` independent
    groups (defaults to ``spark.sql.shuffle.partitions``), and each group
    is packed with best-fit-decreasing inside one Arrow ``applyInPandas``
    call (bisect over sorted residual capacities — O(n log bins) per
    group, no per-row pandas overhead). Bin ids are globally unique
    (``group * 2^32 + local_bin``). BFD wastes ≤ ~22% capacity vs optimal
    (classic bound); cross-group imbalance vanishes at corpus scale
    because groups are hash-uniform. Docs longer than ``max_len`` get a
    CLOSED singleton bin with ``truncated=true`` (nothing can join it,
    even zero-token docs) — the caller decides whether to split or drop.
    Non-positive token counts (e.g. ``size(NULL) = -1`` under ANSI-off)
    are clamped to 0 so they can never inflate a bin's capacity.

    ``token_counter`` (r11): optional Column-producing callable
    ``col -> Column`` applied to ``text_col`` to (re)compute
    ``tokens_col`` before packing — the same counting-tier seam as
    :func:`take_token_budget` (regex estimate / in-repo byte-level BPE
    via :func:`~datamunging_spark.operators.bpe.bpe_token_counter` /
    tiktoken-HF where installed). Bin capacities are only as real as
    the counts: pack with the same counter the trainer tokenizes with.

    Returns (id_col, tokens_col, bin_id, bin_tokens, truncated).
    """
    import bisect

    import pandas as pd

    from datamunging_spark.operators.relational import _shuffle_partitions

    if token_counter is not None:
        df = df.withColumn(tokens_col, token_counter(text_col))
    spark = df.sparkSession
    groups = int(num_groups or _shuffle_partitions(spark))
    id_type = df.schema[id_col].dataType.simpleString()
    tok_type = df.schema[tokens_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, {tokens_col} {tok_type}, bin_id long, "
        "bin_tokens long, truncated boolean"
    )

    def pack(key, pdf: pd.DataFrame):
        g = int(key[0])
        # id tiebreak: mergesort is only stable w.r.t. Arrow batch arrival
        # order, so equal token counts need a deterministic secondary key
        # for bin assignment to be reproducible across runs.
        pdf = pdf.sort_values(
            [tokens_col, id_col], ascending=[False, True], kind="mergesort"
        )
        # NULL counts arrive as NaN in the Arrow frame (and the
        # token_counter seam produces them for NULL text) — clamp to 0
        # like every other non-positive count instead of crashing int()
        toks = [
            0 if pd.isna(t) else max(int(t), 0)
            for t in pdf[tokens_col].to_numpy()
        ]
        caps: list[int] = []      # OPEN bins' residual capacities, sorted
        cap_bins: list[int] = []  # bin id parallel to caps
        next_bin = 0
        assign, bin_tok, trunc = [], {}, []
        for t in toks:
            if t > max_len:
                assign.append(next_bin)      # closed singleton: never in caps
                bin_tok[next_bin] = t
                trunc.append(True)
                next_bin += 1
                continue
            i = bisect.bisect_left(caps, t)  # smallest residual >= t
            if i < len(caps):
                cap, b = caps.pop(i), cap_bins.pop(i)
                left = cap - t
                j = bisect.bisect_left(caps, left)
                caps.insert(j, left)
                cap_bins.insert(j, b)
                assign.append(b)
                bin_tok[b] += t
            else:
                b = next_bin
                next_bin += 1
                left = max_len - t
                j = bisect.bisect_left(caps, left)
                caps.insert(j, left)
                cap_bins.insert(j, b)
                assign.append(b)
                bin_tok[b] = t
            trunc.append(False)
        out = pdf[[id_col, tokens_col]].copy()
        out["bin_id"] = [g * (1 << 32) + b for b in assign]
        out["bin_tokens"] = [bin_tok[b] for b in assign]
        out["truncated"] = trunc
        return out

    keyed = df.select(id_col, tokens_col).withColumn(
        "_g", F.pmod(F.xxhash64(F.col(id_col)), F.lit(groups))
    )
    return keyed.groupBy("_g").applyInPandas(pack, out_schema)


def concat_packed_sequences(
    df: DataFrame,
    ids_col: str = "token_ids",
    id_col: str = "doc_id",
    max_len: int = 2048,
    num_groups: int | None = None,
    split_oversize: bool = False,
) -> DataFrame:
    """Materialize PACKED TRAINING SEQUENCES: run :func:`pack_sequences`
    over ``size(ids_col)`` — the bin capacities are ALWAYS the actual
    id-array lengths, never an estimate, so the emitted windows are
    exactly ``bin_tokens`` long — then emit one row per bin with the
    member docs' id arrays concatenated in deterministic (``id_col``
    ascending) order: the actual context windows a trainer consumes,
    not just the assignment table.

    Entirely JVM-side after the packing pass: the bin concat is
    ``collect_list(struct(id, ids))`` → ``array_sort`` → ``transform``
    + ``flatten`` inside one hash aggregate — no Python boundary, and
    every aggregate value is bounded by construction (Σ sizes per bin ≤
    ``max_len``, except the documented truncated singleton bins, whose
    single oversize doc passes through for the caller to split/drop).

    ``id_col`` is a JOIN KEY here, so it must be UNIQUE and NON-NULL:
    a NULL id would be packed (its size reaches a bin's
    ``bin_tokens``) but then dropped by the member equi-join, and
    duplicate ids fan the join out so bins collect every same-id
    array. Both are caught at action time instead of silently
    corrupting windows: NULL ids by a row-level raise on the slim
    projection, duplicates by a per-bin guard
    (``size(token_ids) == bin_tokens``) that raises with the offending
    ``bin_id``.

    ``split_oversize`` (default off, preserving the truncated-
    singleton contract) CHUNKS every doc into ``max_len``-sized id
    slices before packing — a pure JVM map (``sequence`` →
    ``slice`` → ``posexplode``, no shuffle, copy factor 1) that
    replaces the pass-through-whole truncated bins with dense windows:
    with it on, no output row is ``truncated`` and every window is
    ≤ ``max_len``. Chunk identity is the composite string
    ``"<doc_id> <chunk_idx zero-padded>"`` — unique (fixed-width
    suffix) and orderable, so the member join stays unique-keyed and
    windows order chunks doc-id-STRING-ascending, chunk-ascending
    (numeric doc ids order lexicographically here, unlike the unsplit
    path). The trailing partial chunk packs with other docs' slices
    like any small doc.

    The slim ``(id, ids, size)`` projection is ``localCheckpoint``-ed
    BEFORE it fans out to the packing pass and the member join —
    without it the upstream tokenizer (the dominant cost when
    ``ids_col`` is a :func:`~datamunging_spark.operators.bpe.
    bpe_tokenizer` column) would run twice, once per branch. Same
    pinning trade as :func:`take_token_budget`: executor-local storage,
    no lineage recovery for the pinned slice.

    Returns ``(bin_id, bin_tokens, n_docs, truncated, token_ids)``
    where ``token_ids`` is the packed ``array<int>`` window. Pair with
    :func:`~datamunging_spark.operators.bpe.bpe_tokenizer` upstream for
    real ids:

    >>> toks = bpe_tokenizer(spark, merges)
    >>> docs = corpus.withColumn("token_ids", toks("text"))
    >>> windows = concat_packed_sequences(docs, max_len=2048)
    """
    # NULL id arrays count 0 and contribute nothing — coalesced to an
    # empty array so a NULL element can't nullify its whole bin's
    # flatten() output
    empty = F.array().cast(df.schema[ids_col].dataType.simpleString())
    # NULL ids raise HERE (cheap row expression, fires when the slim
    # projection materializes) — the bin-level length guard below can't
    # see a NULL-id doc that had a bin to itself, because the inner
    # join erases the whole bin.
    id_checked = F.when(
        F.col(id_col).isNotNull(), F.col(id_col)
    ).otherwise(
        F.raise_error(
            "concat_packed_sequences: NULL " + id_col
            + " — id_col must be unique and non-null"
        )
    )
    counted = df.select(id_checked.alias(id_col), ids_col).withColumn(
        ids_col, F.coalesce(F.col(ids_col), empty)
    )
    if split_oversize:
        # n_chunks = max(1, ceil(size / max_len)): zero-token docs keep
        # one (empty) chunk row so their binning behavior matches the
        # unsplit path; greatest() also keeps sequence() ascending.
        last = F.greatest(
            F.lit(0),
            F.ceil(F.size(F.col(ids_col)) / F.lit(int(max_len))) - 1,
        ).cast("int")
        # composite chunk key as a SORTABLE string, not a struct:
        # pack_sequences' pandas tiebreak sort needs an orderable
        # scalar, and dicts (what struct columns become in pandas)
        # aren't. Unique because the fixed-width chunk suffix makes
        # the decomposition unambiguous even if a cast doc id
        # contains spaces, and doc ids themselves are unique by the
        # contract above.
        chunk_key = F.concat_ws(
            " ",
            F.col("_d").cast("string"),
            F.lpad(F.col("_c").cast("string"), 12, "0"),
        )
        counted = counted.select(
            F.col(id_col).alias("_d"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), last),
                    lambda i: F.slice(
                        F.col(ids_col),
                        i * F.lit(int(max_len)) + F.lit(1),
                        F.lit(int(max_len)),
                    ),
                )
            ).alias("_c", ids_col),
        ).select(chunk_key.alias(id_col), ids_col)
    counted = counted.withColumn(
        "_n_tok", F.size(F.col(ids_col))
    ).localCheckpoint()
    assign = pack_sequences(
        counted,
        id_col=id_col,
        tokens_col="_n_tok",
        max_len=max_len,
        num_groups=num_groups,
    )
    member = assign.join(
        counted.select(id_col, ids_col), id_col
    )
    packed = member.groupBy("bin_id").agg(
        F.max("bin_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.max("truncated").alias("truncated"),
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(id_col).alias("_k"),
                            F.col(ids_col).alias("_v"),
                        )
                    )
                ),
                lambda x: x["_v"],
            )
        ).alias("_w"),
    )
    # Per-bin contract guard (O(bins), on the output path so it runs
    # whenever windows are consumed): a length mismatch means id_col
    # broke the unique/non-null contract above — fail, don't emit
    # corrupt windows.
    return packed.select(
        "bin_id",
        "bin_tokens",
        "n_docs",
        "truncated",
        F.when(
            F.size("_w") == F.col("bin_tokens"), F.col("_w")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "concat_packed_sequences: window length != "
                        "bin_tokens for bin_id "
                    ),
                    F.col("bin_id").cast("string"),
                    F.lit(
                        " — id_col must be unique and non-null "
                        "(duplicate ids fan out the member join; "
                        "NULL ids are dropped by it)"
                    ),
                )
            )
        ).alias("token_ids"),
    )


def take_token_budget(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    order_cols: list[str] | None = None,
    token_counter=None,
    text_col: str = "text",
) -> DataFrame:
    """Largest prefix of ``df`` (in ``order_cols`` order) whose running
    token sum stays within ``budget`` — "take the best docs until the
    training budget is full" without ever forming a global single-partition
    cumulative sum.

    ``order_cols`` is REQUIRED and must be a unique total order (ties would
    make the budget-boundary rows nondeterministic across runs — append an
    id column as tiebreak).

    Distributed prefix-sum, two passes over a SLIM projection (order cols +
    tokens only — the corpus' payload columns are never materialized):
    (1) range-partition the projection and collect per-partition token
    totals (one tiny row per partition to the driver); (2) broadcast-join
    the partition base offsets back and add a WITHIN-partition window
    cumsum. Every partition computes its rows' global running totals
    independently — the classic scalable scan pattern, vs
    ``Window.orderBy`` with no partitionBy which funnels the corpus
    through one task. The kept keys then semi-join the original DataFrame,
    so the only materialized intermediate (``localCheckpoint``, pinning
    both passes to one partitioning) is the slim projection.

    ``token_counter`` (r11) plugs the counting tier in: any
    Column-producing callable ``col -> Column`` applied to ``text_col``
    to (re)compute ``tokens_col`` before budgeting — pass
    ``functions.bpe_ish_token_count`` for the cheap JVM regex estimate,
    :func:`~datamunging_spark.operators.bpe.bpe_token_counter` for true
    byte-level BPE counts from a merges file, or a tiktoken/HF-backed
    UDF where those exist. Default None = ``tokens_col`` is already
    present. The counted slim projection is localCheckpointed BEFORE
    the prefix sum: repartitionByRange's bounds-sampling job plus the
    prefix sum's own materialization would otherwise each run the
    counting UDF over the whole corpus (the r9 repartitionByRange
    lesson) — with the checkpoint the counter's corpus pass runs once
    (kept rows recompute it lazily on read of ``tokens_col``).
    """
    if not order_cols:
        raise ValueError(
            "order_cols is required and must uniquely order rows "
            "(append an id column as tiebreak)"
        )
    slim_src = df
    if token_counter is not None:
        df = df.withColumn(tokens_col, token_counter(text_col))
        slim_src = df.select(*order_cols, tokens_col).localCheckpoint()
    kept_keys = (
        _global_running_sum(slim_src, tokens_col, order_cols)
        .filter(F.col("_run") <= F.lit(budget))
        .select(*order_cols)
    )
    return df.join(kept_keys, on=order_cols, how="left_semi")


def _global_running_sum(
    df: DataFrame, tokens_col: str, order_cols: list[str]
) -> DataFrame:
    """Slim (order_cols, tokens, _run) frame where ``_run`` is the global
    inclusive running token sum in ``order_cols`` order — the shared
    distributed prefix-sum behind :func:`take_token_budget` and
    :func:`assign_token_shards` (range partition → one tiny
    row-per-partition collect of totals → broadcast base offsets →
    within-partition window cumsum; never a single-task global window).
    Negative counts clamp to 0 so ``_run`` is monotonic. The range-
    partition + per-partition-agg + offset skeleton is the shared
    :func:`~datamunging_spark.operators.relational.ranged_prefix_offsets`
    (also behind ``global_row_number``)."""
    from datamunging_spark.operators.relational import ranged_prefix_offsets
    from decimal import Decimal

    clamped = df.select(
        *order_cols,
        F.greatest(F.col(tokens_col), F.lit(0)).alias(tokens_col),
    )
    slim, offsets = ranged_prefix_offsets(
        clamped, order_cols, F.sum(F.col(tokens_col).cast("decimal(38,0)"))
    )
    from datamunging_spark.sources.io import local_table

    base = F.broadcast(
        local_table(
            df.sparkSession,
            [(pid, Decimal(acc)) for pid, acc in offsets],
            "_pid int, _base decimal(38,0)",
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.col("_base") + F.sum(
        F.col(tokens_col).cast("decimal(38,0)")
    ).over(w)
    return slim.join(base, "_pid").withColumn("_run", running).drop(
        "_pid", "_base"
    )


def assign_token_shards(
    df: DataFrame,
    shard_tokens: int,
    tokens_col: str = "n_tokens",
    order_cols: list[str] | None = None,
    shard_col: str = "shard",
) -> DataFrame:
    """Token-balanced shard assignment: add ``shard_col`` so consecutive
    docs (in ``order_cols`` order — run :func:`training_shuffle` first for
    a random order) land in shards of ~``shard_tokens`` tokens each — the
    even-shard layout training loaders want, computed with the same
    two-pass distributed prefix sum as :func:`take_token_budget` (never a
    global single-task window).

    A doc is assigned by its START offset (``run - tokens``), so shard
    boundaries never split a doc and each shard overshoots its target by
    at most one doc. Deterministic for a unique ``order_cols`` order.
    Write with :func:`write_training_shards` or
    ``.write.partitionBy(shard_col)``.
    """
    if not order_cols:
        raise ValueError(
            "order_cols is required and must uniquely order rows "
            "(append an id column as tiebreak)"
        )
    if shard_tokens <= 0:
        raise ValueError(f"shard_tokens must be positive, got {shard_tokens}")
    assigned = _global_running_sum(df, tokens_col, order_cols).select(
        *order_cols,
        F.floor(
            (F.col("_run") - F.col(tokens_col)) / F.lit(shard_tokens)
        )
        .cast("int")
        .alias(shard_col),
    )
    return df.join(assigned, on=order_cols, how="inner")


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_tokens: int,
    tokens_col: str = "n_tokens",
    order_cols: list[str] | None = None,
    fmt: str = "parquet",
    manifest: bool = True,
) -> list[dict] | None:
    """Materialize a training set as token-balanced shards:
    :func:`assign_token_shards` then a partitioned write (one
    ``shard=N/`` directory per shard; ``fmt`` = parquet or json for
    JSONL-style shards). The shuffle is one repartition on the shard id
    so each shard writes from one task — files stay one-per-shard.

    ``manifest`` (default on) also writes ``_MANIFEST.json`` at the
    root — the shard listing a training data-loader consumes without
    scanning the data: per shard ``{shard, path, rows, tokens}`` plus
    totals and the write parameters. The stats are aggregated from the
    WRITTEN files (one bounded read-back scan — so the manifest
    describes what is actually on disk, and nothing corpus-sized is
    pinned in the block manager for a second consumer), with tokens
    clamped ``greatest(·,0)`` exactly like the assignment math. The
    manifest lands LAST via write-temp-then-rename, so a torn run
    leaves no (or no visible) manifest — the content-bearing analog of
    the versioned store's empty commit markers. Returns the per-shard
    entry list (None with ``manifest=False``)."""
    import json as _json

    assigned = assign_token_shards(
        df, shard_tokens, tokens_col, order_cols
    )
    (
        assigned.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )
    if not manifest:
        return None
    from pyspark.errors import AnalysisException

    try:
        written = df.sparkSession.read.format(fmt).load(path)
        stats = (
            written.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.greatest(F.col(tokens_col), F.lit(0))),
                    F.lit(0),
                )
                .cast("long")
                .alias("tokens"),
            )
            .orderBy("shard")
            .collect()
        )
    except AnalysisException:
        # an EMPTY corpus writes no data files, so the read-back can't
        # infer a schema — that's a zero-shard manifest, not an error
        stats = []
    entries = [
        {
            "shard": int(r["shard"]),
            "path": f"shard={int(r['shard'])}",
            "rows": int(r["rows"]),
            "tokens": int(r["tokens"]),
        }
        for r in stats
    ]
    payload = _json.dumps(
        {
            "fmt": fmt,
            "shard_tokens": int(shard_tokens),
            "tokens_col": tokens_col,
            "order_cols": list(order_cols or []),
            "n_shards": len(entries),
            "total_rows": sum(e["rows"] for e in entries),
            "total_tokens": sum(e["tokens"] for e in entries),
            "shards": entries,
        },
        indent=1,
    )
    from datamunging_spark.sources.versioned import _fs

    # temp + atomic rename: the marker discipline only works for
    # content-FREE files; a content-bearing manifest written in place
    # could be seen torn (0-byte / truncated) by a loader
    fs, jvm = _fs(df.sparkSession, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}/._MANIFEST.json.tmp")
    dst = jvm.org.apache.hadoop.fs.Path(f"{path}/_MANIFEST.json")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    fs.delete(dst, False)
    fs.rename(tmp, dst)
    return entries


def cap_tokens_per_group(
    df: DataFrame,
    budgets: dict | int,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    id_cols: list[str] | None = None,
    salt: str = "0",
    default_budget: int | None = None,
) -> DataFrame:
    """Per-group TOKEN budgets — the mixing primitive behind "20B
    tokens of web, 5B of code, 1B of math": within each ``group_col``
    group, keep rows in salted-md5 pseudo-random order while the
    group's inclusive running token sum stays within its budget (the
    :func:`take_token_budget` keep contract, per group — a kept set
    never exceeds the budget). The token-weighted sibling of
    :func:`~datamunging_spark.operators.sampling.cap_per_group`'s row
    cap.

    ``budgets``: dict ``{group: budget}`` (groups absent from the
    dict get ``default_budget``; None = dropped, documented loudly
    because silence here would eat data; a ``None`` KEY budgets the
    NULL group explicitly — it is routed through an ``isNull`` branch
    because Spark map literals reject NULL keys)
    or a single int applied to every group (``default_budget`` is
    meaningless with an int and raises). The lookup is
    ``try_element_at`` so a dict miss is a NULL budget on ANSI
    sessions too, never an error. The running sum is ``decimal(38,0)``
    — the same overflow-proof width as ``_global_running_sum``, so the
    "take_token_budget contract per group" claim holds numerically
    too. Negative/NULL token counts clamp to 0 (the family's
    contract) so they can never free up budget. Deterministic given
    unique ``id_cols`` (same requirement and same salted
    :func:`~datamunging_spark.functions.salted_row_key` order as
    cap_per_group — ``salt`` re-deals wholesale).

    One window exchange on the group key; groups are independent so
    AQE skew handling applies to a hot group's sort (same trade as
    cap_per_group — for a per-group cap there is no two-stage
    pre-reduction, because the cut depends on the group-global order).
    """
    from datamunging_spark.functions import salted_row_key

    if not id_cols:
        raise ValueError(
            "id_cols is required and must uniquely identify a row"
        )
    if not isinstance(budgets, dict) and default_budget is not None:
        raise ValueError(
            "default_budget only applies with dict budgets — an int "
            "budget already covers every group"
        )
    if isinstance(budgets, dict):
        # a None KEY is a real entry (the docstring invites it for the
        # NULL group) but create_map rejects NULL keys at runtime with
        # an opaque error — route it through a dedicated isNull branch
        # instead (r11 ADVICE)
        pairs = []
        for g, b in budgets.items():
            if g is None:
                continue
            pairs.extend([F.lit(g), F.lit(int(b)).cast("long")])
        if pairs:
            budget = F.try_element_at(
                F.create_map(*pairs), F.col(group_col)
            )
        else:
            budget = F.lit(None).cast("long")
        if None in budgets:
            budget = F.when(
                F.col(group_col).isNull(),
                F.lit(int(budgets[None])).cast("long"),
            ).otherwise(budget)
        if default_budget is not None:
            budget = F.coalesce(budget, F.lit(int(default_budget)))
    else:
        budget = F.lit(int(budgets)).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(salted_row_key(id_cols, salt).asc(), *id_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(
        F.greatest(F.col(tokens_col), F.lit(0)).cast("decimal(38,0)")
    ).over(w)
    return (
        df.withColumn("_run", run)
        .filter(F.col("_run") <= budget)
        .drop("_run")
    )


def temperature_mix(
    df: DataFrame,
    temperature: float = 2.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based source rebalancing (Conneau & Lample 2019 XLM
    §3.1 / mT5's sampling rule): target share of source i ∝ n_i^(1/T).
    T=1 keeps the natural distribution (all weights 1); T→∞ approaches a
    uniform mix; 2-5 is the published multilingual range — low-resource
    sources are upsampled without letting them dominate.

    The per-source copy factor f_i = (n_i^(1/T) / Σ n_j^(1/T)) · N / n_i
    preserves the total expected corpus size while shifting shares.
    Counts come from one low-cardinality aggregate collected driver-side
    (the sources list is tiny by definition); the mixing itself is
    :func:`source_mix`'s deterministic md5-fractional machinery, so the
    result is engine-portable and partition-layout-invariant.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return source_mix(df, {}, source_col, id_col)
    total = sum(counts.values())
    powed = {s: n ** (1.0 / temperature) for s, n in counts.items()}
    z = sum(powed.values())

    def snap(w: float) -> float:
        # float pow/div can land one ulp below an exact integer, and
        # 0.9999999999999999 would make source_mix drop the 1/65536 of
        # docs whose md5 prefix is 'ffff' — T=1 must be the identity
        r = round(w)
        return float(r) if abs(w - r) < 1e-9 else w

    weights = {
        s: snap((powed[s] / z) * total / counts[s]) for s in counts
    }
    return source_mix(df, weights, source_col, id_col)
