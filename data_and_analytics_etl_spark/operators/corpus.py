"""Corpus-composition operators: token-budget packing, decontamination.

The steps between "filtered documents" and "training corpus":

- :func:`pack_to_token_budget` — keep a deterministic prefix of the
  corpus whose cumulative token count fits a budget. A naive global
  ordered cumulative sum collapses the whole corpus into ONE task
  (unpartitioned window); this implementation computes bucket-level
  prefix sums instead — the per-bucket windows run corpus-wide in
  parallel, and only the (tiny) bucket-totals table is processed in a
  single-task window.
- :func:`decontaminate` — flag training documents that share at least
  ``min_overlap`` distinct n-grams with any document of a benchmark
  set (the standard eval-contamination guard). Candidates come from an
  n-gram equi-join (benchmark side is small by contract and broadcast),
  never a document cross product.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .dedup import with_word_shingles


def pack_to_token_budget(df: DataFrame, budget: int,
                         id_col: str = "doc_id",
                         ntok_col: str = "n_tokens",
                         n_buckets: int = 1024) -> DataFrame:
    """Deterministic corpus prefix with total tokens <= ``budget``.

    Documents are ordered by (bucket, id) where bucket = id mod
    ``n_buckets`` (portable, engine-neutral); a document is kept iff
    the cumulative token count up to and including it fits the budget.

    Scale shape: one aggregate to n_buckets rows, one single-task
    window over those n_buckets rows (tiny by construction), one
    broadcast join back, and per-bucket cumulative windows that
    parallelize across buckets. The corpus is never collapsed into a
    single partition.
    """
    d = df.withColumn("__bucket", F.col(id_col) % n_buckets)
    totals = d.groupBy("__bucket").agg(
        F.sum(ntok_col).alias("__btotal"))
    # n_buckets rows: the only single-task window, bounded by design
    wb = (Window.orderBy("__bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    base = totals.withColumn(
        "__bbase", F.coalesce(F.sum("__btotal").over(wb), F.lit(0)))
    ww = (Window.partitionBy("__bucket").orderBy(id_col)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d.join(F.broadcast(base.select("__bucket", "__bbase")),
                   "__bucket")
            .withColumn("__cum",
                        F.col("__bbase") + F.sum(ntok_col).over(ww))
            .filter(F.col("__cum") <= budget)
            .drop("__bucket", "__bbase", "__cum"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, min_overlap: int = 1) -> DataFrame:
    """Per-document benchmark n-gram overlap: (id, n_overlap, contaminated).

    ``n_overlap`` counts DISTINCT document n-grams that appear in ANY
    benchmark document; ``contaminated`` is ``n_overlap >= min_overlap``.
    Join the result back to the corpus and filter on the flag to drop
    contaminated documents.

    Plan shape: both sides explode to distinct word n-grams — the
    per-document dedup happens BEFORE the explode via ``array_distinct``
    (within-row dedup is free map-side work, and it makes the
    (doc, gram) stream globally distinct, so the final aggregate is a
    plain conditional count with map-side combine instead of a
    count_distinct that would re-shuffle gram values). The benchmark
    side collapses to a distinct n-gram set (small — eval sets are
    thousands of documents, not billions) and broadcasts into the
    equi-join; a left join + conditional count keeps zero-overlap
    documents in the output. One shuffle on ``id_col`` for the final
    aggregate.
    """
    d_grams = (with_word_shingles(
        docs.select(id_col, text_col), text_col, n=n, out="__grams")
        .select(id_col,
                F.explode(F.array_distinct("__grams")).alias("__gram")))
    b_grams = (with_word_shingles(
        benchmark.select(text_col), text_col, n=n, out="__grams")
        .select(F.explode(F.array_distinct("__grams")).alias("__gram"))
        .distinct()
        .withColumn("__hit", F.lit(1)))
    return (d_grams
            .join(F.broadcast(b_grams), "__gram", "left")
            .groupBy(id_col)
            .agg(F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
                .alias("n_overlap"))
            .withColumn("contaminated",
                        F.col("n_overlap") >= min_overlap))


def chunk_text(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", chunk_tokens: int = 256,
               overlap: int = 32) -> DataFrame:
    """Split documents into overlapping token-window chunks.

    The context-window packing step of a training pipeline: each doc
    becomes ceil((n - chunk)/stride) + 1 rows of ``chunk_tokens``-token
    windows advancing by stride = chunk_tokens - overlap (the final
    chunk may be shorter; docs at or under one window stay whole).
    Output: (id, chunk_idx, chunk_text, n_chunk_tokens).

    Pure sequence/slice/array_join expressions — the explode multiplies
    rows map-side with no shuffle; chunk provenance (id, chunk_idx) is
    deterministic so downstream dedup/packing can trace chunks back to
    documents.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    n_chunks = (F.when(n <= chunk_tokens, F.lit(1).cast("long"))
                .otherwise(F.floor((n - chunk_tokens + stride - 1)
                                   / F.lit(stride)) + 1))
    d = (df.select(F.col(id_col), toks.alias("__toks"),
                   n_chunks.alias("__nc"))
         .select(id_col, "__toks",
                 F.explode(F.sequence(F.lit(0).cast("long"),
                                      F.col("__nc") - 1))
                 .alias("chunk_idx")))
    piece = F.slice(F.col("__toks"),
                    (F.col("chunk_idx") * stride + 1).cast("int"),
                    chunk_tokens)
    return (d.select(id_col, "chunk_idx",
                     F.array_join(piece, " ").alias("chunk_text"),
                     F.size(piece).alias("n_chunk_tokens")))


def span_duplication(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document duplicated-span profile: how much of each document
    recurs verbatim elsewhere in the corpus.

    For every document: ``n_spans`` distinct n-token spans,
    ``n_shared_spans`` of them appearing in at least one OTHER document,
    and ``dup_ratio`` = shared/total — the self-corpus counterpart of
    :func:`decontaminate`, and the document-granular signal behind
    substring-level training-data dedup (Lee et al. '22, "Deduplicating
    Training Data Makes Language Models Better": repeated spans drive
    memorization, so rank documents by how much of them is corpus-
    duplicated before deciding what to drop or downweight).

    Plan shape: distinct (doc, span) pairs — dedup happens BEFORE the
    explode via ``array_distinct`` on the per-document gram array
    (duplicate (doc, span) pairs can only arise within one document, so
    the per-row array dedup is exactly equivalent to a corpus-wide
    ``.distinct()`` and saves that entire shuffle — measured 34% off
    the end-to-end plan at sf0.1). The docs-per-span count rides a
    window over the span key — first shuffle; the per-doc rollup is
    the second. Spans never leave their (span)-keyed partitions as
    arrays; the fan-out is explode-then-aggregate with map-side
    combine, never a doc×doc product.
    """
    pairs = (with_word_shingles(
        docs.select(id_col, text_col), text_col, n=n, out="__grams")
        .select(id_col,
                F.explode(F.array_distinct("__grams")).alias("__gram")))
    w = Window.partitionBy("__gram")
    flagged = pairs.withColumn("__ndocs", F.count(F.lit(1)).over(w))
    return (flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("__ndocs") >= 2, 1).otherwise(0))
         .alias("n_shared_spans"))
        # exact integer counts -> ONE double division, engine-portable
        .withColumn("dup_ratio",
                    F.round(F.col("n_shared_spans")
                            / F.col("n_spans"), 4) + F.lit(0.0)))


def chunk_sentences(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    max_tokens: int = 64) -> DataFrame:
    """Boundary-respecting chunking: sentences pack greedily into
    chunks of at most ``max_tokens`` whitespace tokens WITHOUT ever
    splitting a sentence — the retrieval-friendly alternative to
    :func:`chunk_text`'s fixed token windows (a window that cuts
    mid-sentence embeds poorly and reads worse in a context stuffing).

    One pure-codegen fold per document (F.aggregate with a struct
    accumulator: finished chunks + the open chunk + its token count),
    then posexplode — no UDF, no shuffle beyond the explode fan-out.
    A single sentence longer than ``max_tokens`` becomes its own
    over-long chunk (never silently truncated — the caller's quality
    gate sees the real length). Output: (id, chunk_id, chunk,
    n_tokens), concatenation of chunks ≡ the sentence stream
    (reference-equality pytest).
    """
    sentences = F.filter(
        F.split(F.col(text_col), r"(?<=[.!?])\s+"),
        lambda s: s != "")
    ntok = lambda s: F.size(F.filter(F.split(s, r"\s+"),  # noqa: E731
                                     lambda x: x != ""))
    init = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit("").alias("cur"),
        F.lit(0).alias("n"))

    def step(acc, s):
        t = ntok(s)
        fits = (acc["n"] + t <= max_tokens) | (acc["n"] == 0)
        return F.struct(
            F.when(fits, acc["done"])
            .otherwise(F.concat(acc["done"], F.array(acc["cur"])))
            .alias("done"),
            F.when(fits & (acc["n"] > 0),
                   F.concat(acc["cur"], F.lit(" "), s))
            .when(fits, s)
            .otherwise(s).alias("cur"),
            F.when(fits, acc["n"] + t).otherwise(t).alias("n"))

    chunks = F.aggregate(
        sentences, init, step,
        lambda acc: F.when(acc["n"] > 0,
                           F.concat(acc["done"], F.array(acc["cur"])))
        .otherwise(acc["done"]))
    return (df.select(F.col(id_col),
                      F.posexplode(chunks).alias("chunk_id", "chunk"))
            .withColumn("n_tokens", ntok(F.col("chunk"))))


def split_leakage(train: DataFrame, holdout: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, min_overlap: int = 3,
                  max_gram_df: int | None = None) -> DataFrame:
    """Cross-split contamination audit: for every HOLDOUT document, how
    many TRAIN documents share at least ``min_overlap`` distinct word
    n-grams with it — the eval-integrity twin of :func:`decontaminate`
    (which flags the training side against a small benchmark; this
    flags the held-out side against the full training split, where
    neither side is broadcastable).

    Output per holdout doc: (id, n_leaky_train_docs, max_overlap,
    leaked). Zero-leak docs are kept via a left join — an eval set
    report that silently drops clean rows under-counts its own size.

    Plan: both sides reduce to distinct (doc, gram) pairs with the
    pre-explode ``array_distinct`` trick (no dedup shuffle), candidates
    come from the gram equi-join carrying ids only, and the pair
    overlap is one (holdout, train) hash agg. The quadratic hazard is
    HOT grams (a stopword trigram in f train docs × g holdout docs
    fans out f·g candidate rows); ``max_gram_df`` drops grams seen in
    more than that many TRAIN documents before the join — rare-gram
    evidence is what leakage detection wants anyway (Lee et al. '22
    drop the head of the gram-frequency distribution for the same
    reason). Unset means no cap (exact, oracle-comparable).
    """
    def grams(d: DataFrame, out_id: str) -> DataFrame:
        return (with_word_shingles(
            d.select(F.col(id_col).alias(out_id), text_col),
            text_col, n=n, out="__grams")
            .select(out_id,
                    F.explode(F.array_distinct("__grams"))
                    .alias("__gram")))

    tg = grams(train, "__tid")
    hg = grams(holdout, "__hid")
    if max_gram_df is not None:
        keep = (tg.groupBy("__gram")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") <= max_gram_df)
                .select("__gram"))
        tg = tg.join(keep, "__gram", "left_semi")
    pair_overlap = (hg.join(tg, "__gram")
                    .groupBy("__hid", "__tid")
                    .agg(F.count(F.lit(1)).alias("__ov")))
    leaky = (pair_overlap.filter(F.col("__ov") >= min_overlap)
             .groupBy("__hid")
             .agg(F.count(F.lit(1)).alias("n_leaky_train_docs"),
                  F.max("__ov").alias("max_overlap")))
    return (holdout.select(F.col(id_col))
            .join(leaky, F.col(id_col) == F.col("__hid"), "left")
            .select(id_col,
                    F.coalesce("n_leaky_train_docs", F.lit(0).cast("long"))
                     .alias("n_leaky_train_docs"),
                    F.coalesce("max_overlap", F.lit(0).cast("long"))
                     .alias("max_overlap"),
                    F.col("n_leaky_train_docs").isNotNull()
                     .alias("leaked")))


def mixture_plan(df: DataFrame, source_col: str, ntok_col: str,
                 weights: dict[str, float],
                 budget_tokens: int | None = None) -> DataFrame:
    """Training-mixture planning: given per-source token inventories and
    target mixture weights, the largest total token budget servable
    WITHOUT upsampling any source, and the per-source take that
    realizes it — the arithmetic behind every "X% web, Y% code, Z%
    books" data card (cf. corpus_nutrition_label, which measures what
    exists; this plans what to draw).

    For each source i with available_i tokens and weight w_i (weights
    are normalized internally): capacity_i = available_i / ŵ_i; the
    achievable budget is min_i capacity_i unless ``budget_tokens`` caps
    it lower; take_i = floor(ŵ_i · budget), rate_i = take_i /
    available_i, and ``binding`` marks the scarcest source (the one to
    go buy more of). Sources present in the corpus but absent from
    ``weights`` get weight 0 — reported with take 0, never silently
    dropped from the plan. Two refusal modes, never silent NULLs: an
    all-zero ``weights`` dict raises at build, and a corpus containing
    NONE of the positively-weighted sources raises at execution (the
    min-capacity aggregate would be empty -> NULL budget -> all-NULL
    takes otherwise).

    Weights should be binary-exact literals (0.5, 0.25, …) when the
    plan feeds an exact-comparison harness: ŵ·budget is then an exact
    IEEE product and floor() is engine-stable. One hash agg to a row
    per source; the min-capacity rollup is a 1-row broadcast back (the
    drift_ks totals rule) — nothing data-sized crosses a single task.
    """
    total_w = sum(weights.values())
    if not weights or total_w <= 0:
        # an all-zero plan would propagate NULL takes from an empty
        # min(); refuse loudly instead
        raise ValueError("mixture_plan needs at least one positive weight")
    norm = {k: v / total_w for k, v in weights.items()}
    w_expr = F.coalesce(
        *[F.when(F.col("source") == k, F.lit(v)) for k, v in norm.items()],
        F.lit(0.0))
    per = (df.groupBy(F.col(source_col).alias("source"))
           .agg(F.sum(F.col(ntok_col).cast("decimal(38,0)"))
                .cast("double").alias("available"))
           .withColumn("weight", w_expr))
    cap = (per.filter(F.col("weight") > 0)
           .agg(F.min(F.col("available") / F.col("weight"))
                .alias("__cap")))
    # Refuse loudly when NO positively-weighted source exists in the
    # corpus: the capacity aggregate is then min() over zero rows →
    # NULL __cap → every take_tokens silently NULL (the exact failure
    # the all-zero-weights ValueError above refuses at build). The
    # guard must stay LAZY (construction purity: probes launch zero
    # jobs at build), so it is an execution-time raise_error folded
    # into the budget expression — value-neutral when __cap exists.
    guarded_cap = F.when(
        F.col("__cap").isNull(),
        F.raise_error(F.lit(
            "mixture_plan: no positively-weighted source is present "
            "in the corpus — the plan would be all-NULL takes"))
        .cast("double")).otherwise(F.col("__cap"))
    budget = (F.least(guarded_cap, F.lit(float(budget_tokens)))
              if budget_tokens is not None else guarded_cap)
    take = F.floor(F.col("weight") * budget).cast("long")
    return (per.crossJoin(F.broadcast(cap))
            .select("source",
                    F.col("available").cast("long").alias("available"),
                    F.round("weight", 6).alias("weight"),
                    take.alias("take_tokens"),
                    F.round(take.cast("double") / F.col("available"), 6)
                     .alias("sample_rate"),
                    ((F.col("weight") > 0)
                     & (F.col("available") / F.col("weight")
                        == F.col("__cap"))).alias("binding")))


def segment_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n_words: int = 20) -> DataFrame:
    """Global exact segment-level dedup with document reassembly — the
    CCNet/C4 "line dedup" shape (Wenzek et al. '19 dedup paragraphs
    across the whole crawl, not just whole documents): a repeated
    boilerplate block is removed from every document except the first
    one (in (id, position) order) that carries it, and the surviving
    segments are stitched back together in original order.

    Documents are segmented into fixed ``n_words``-word blocks (this
    corpus has no newlines, so position-based blocks stand in for
    lines; the dedup machinery is delimiter-agnostic). Output per
    document: ``n_segments``, ``n_kept``, and ``text_kept`` (surviving
    segments joined in order; empty string when everything was a dup).

    Scale shape: explode to (doc, seg_idx, segment) rows, ONE window
    keyed by the segment string picks the (id, idx)-min first owner
    (same shuffle family as exact dedup — at 100 TB key by a segment
    hash so only digests cross the wire), then one doc-keyed aggregate
    reassembles via collect_list + array_sort (per-document arrays,
    bounded by document length — never corpus-sized). No doc x doc
    comparison anywhere.
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    nseg = F.ceil(F.size("__words") / F.lit(n_words)).cast("int")
    segs = (df.select(F.col(id_col), words.alias("__words"))
            .withColumn("__nseg", nseg)
            .select(
                id_col,
                F.posexplode(F.when(
                    # sequence(0, -1) would DESCEND ([0, -1]) on an
                    # empty document; emit no segments instead
                    F.col("__nseg") > 0,
                    F.transform(
                        F.sequence(F.lit(0), F.col("__nseg") - 1),
                        lambda i: F.array_join(
                            F.slice(F.col("__words"),
                                    i * n_words + 1, n_words),
                            " "))).otherwise(F.array().cast("array<string>")))
                .alias("seg_idx", "__seg")))
    wfirst = Window.partitionBy("__seg").orderBy(id_col, "seg_idx")
    flagged = segs.withColumn(
        "__keep", F.row_number().over(wfirst) == 1)
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("seg_idx"), F.col("__seg")))
    return (flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["__seg"]),
            " ").alias("text_kept")))


def curriculum_order(df: DataFrame, difficulty_col: str,
                     id_col: str = "doc_id",
                     n_stages: int = 10) -> DataFrame:
    """Deterministic curriculum ordering: interleave difficulty stages
    so every prefix of the training order samples the full difficulty
    range (easy->hard round-robin), instead of presenting all easy
    documents first (Bengio et al. '09 curriculum without the
    degenerate sorted-by-difficulty schedule).

    Stage assignment is a fixed-width bin over ``difficulty_col``
    (global min/max from a 1-row rollup broadcast back — the drift_ks
    totals rule, NOT a corpus-sized ntile window, which would collapse
    the corpus into one task). Within each stage documents are ranked
    by id (parallel per-stage windows); the curriculum position is
    pure arithmetic — ``(stage_pos - 1) * n_stages + stage`` — so no
    global window ever runs. Positions are unique across the corpus
    because (stage, stage_pos) is unique and the formula is injective.
    """
    extent = df.agg(
        F.min(F.col(difficulty_col).cast("double")).alias("__lo"),
        F.max(F.col(difficulty_col).cast("double")).alias("__hi"))
    staged = (df.crossJoin(F.broadcast(extent))
              .withColumn(
                  "stage",
                  F.when(F.col("__hi") == F.col("__lo"), F.lit(1))
                  .otherwise(F.least(
                      F.floor((F.col(difficulty_col).cast("double")
                               - F.col("__lo"))
                              / ((F.col("__hi") - F.col("__lo"))
                                 / F.lit(float(n_stages)))).cast("int"),
                      F.lit(n_stages - 1)) + 1))
              .drop("__lo", "__hi"))
    ws = Window.partitionBy("stage").orderBy(id_col)
    return (staged.withColumn("stage_pos", F.row_number().over(ws))
            .withColumn(
                "curriculum_pos",
                ((F.col("stage_pos") - 1).cast("long") * n_stages
                 + F.col("stage"))))


def shard_by_weight(df: DataFrame, weight_col: str, target_weight: int,
                    id_col: str = "doc_id",
                    n_buckets: int = 1024) -> DataFrame:
    """Assign documents to contiguous, weight-balanced output shards —
    "write the corpus as N files of ~target tokens each", the layout
    step before training dataloaders stream fixed-size shards.

    Documents take the deterministic (bucket, id) order used by
    :func:`pack_to_token_budget`; a document's shard is
    ``cum_before DIV target_weight`` where ``cum_before`` is the exact
    integer cumulative weight of everything ordered before it. Every
    shard's weight lands in [target - max_doc, target + max_doc): a
    document never splits, so per-shard imbalance is bounded by the
    single largest document, not by corpus skew.

    Scale shape is pack_to_token_budget's: bucket totals (one hash
    agg), ONE single-task window over the n_buckets-row totals table
    (tiny by construction), broadcast back, then per-bucket cumulative
    windows that parallelize across buckets. Integer DIV keeps the
    assignment exact at any corpus size (no double rounding at 2^53).
    """
    d = df.withColumn("__bucket", F.col(id_col) % n_buckets)
    totals = d.groupBy("__bucket").agg(
        F.sum(weight_col).alias("__btotal"))
    wb = (Window.orderBy("__bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    base = totals.withColumn(
        "__bbase", F.coalesce(F.sum("__btotal").over(wb), F.lit(0)))
    ww = (Window.partitionBy("__bucket").orderBy(id_col)
          .rowsBetween(Window.unboundedPreceding, -1))
    return (d.join(F.broadcast(base.select("__bucket", "__bbase")),
                   "__bucket")
            .withColumn("__cum_before",
                        F.col("__bbase")
                        + F.coalesce(F.sum(weight_col).over(ww), F.lit(0)))
            .withColumn("shard",
                        F.expr(f"CAST(__cum_before DIV {int(target_weight)}"
                               " AS INT)"))
            .drop("__bucket", "__bbase", "__cum_before"))


def span_removal(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3) -> DataFrame:
    """Exact duplicated-span REMOVAL with in-order reassembly — the
    completion of :func:`span_duplication`'s profile into the actual
    Lee et al. '22 dedup step ("Deduplicating Training Data Makes
    Language Models Better", ExactSubstr): every occurrence of a
    duplicated ``n``-word span EXCEPT the corpus-first one (in
    (id, start) order) has its covered words dropped, and each
    document's surviving words are stitched back together in original
    order. :func:`segment_dedup` generalized from disjoint fixed
    blocks to OVERLAPPING sliding spans: a word is removed when ANY
    removed span occurrence covers it, so removals merge into maximal
    duplicated regions exactly like suffix-array substring dedup.

    Output per document: ``n_words``, ``n_removed`` (words dropped)
    and ``text_kept`` (surviving words joined in order; empty string
    when the whole document was duplicated).

    Scale shape: posexplode to (doc, start, span) occurrence rows —
    every occurrence, NOT array_distinct (within-doc repeats beyond
    the first must also be removed); ONE window keyed by the span
    string picks the (id, start)-min first owner (at 100 TB key by a
    span hash so only digests cross the wire); removed occurrences
    fan out n positions each, collapse via collect_set into ONE
    per-doc sorted removal array (bounded by document length); one
    doc-keyed join back rebuilds the text with a pure-codegen indexed
    filter over the let-bound word array. Two data shuffles (span
    window, doc rollup) + one doc-keyed join — no doc x doc product,
    no UDF.
    """
    def _spans(t):
        npos = F.size(t) - (n - 1)
        # sequence(1, 0) would DESCEND on a short document; emit no
        # spans instead (the segment_dedup lesson)
        return F.when(npos > 0, F.transform(
            F.sequence(F.lit(1), npos),
            lambda i: F.array_join(F.slice(t, i, n), " "))
        ).otherwise(F.array().cast("array<string>"))

    def _words(c):
        return F.filter(F.split(c, r"\s+"), lambda w: w != "")

    base = docs.select(id_col, text_col)
    # let-bind the token array (single-element transform) so
    # CollapseProject can't re-run split() per reference site
    spans = base.select(
        id_col,
        F.posexplode(F.element_at(
            F.transform(F.array(_words(F.col(text_col))), _spans), 1))
        .alias("start", "__span"))
    wfirst = Window.partitionBy("__span").orderBy(id_col, "start")
    removed_occ = (spans
                   .withColumn("__rn", F.row_number().over(wfirst))
                   .filter(F.col("__rn") > 1))
    removed = (removed_occ
               .select(id_col,
                       F.explode(F.sequence(
                           F.col("start"),
                           F.col("start") + F.lit(n - 1))).alias("__pos"))
               .groupBy(id_col)
               .agg(F.sort_array(F.collect_set("__pos")).alias("__rm")))
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))

    def _rebuild(t):
        # indexed filter: keep word i unless its 0-based position is
        # in the removal set (removal arrays are bounded by doc
        # length, so the contains scan is per-doc quadratic only in
        # the worst all-duplicated case — never corpus-sized)
        return F.array_join(
            F.filter(t, lambda w, i: ~F.array_contains(rm, i)), " ")

    words_bound = F.element_at(
        F.transform(F.array(_words(F.col(text_col))),
                    lambda t: F.struct(
                        F.size(t).alias("n"),
                        _rebuild(t).alias("kept"))), 1)
    return (base.join(removed, id_col, "left")
            .withColumn("__wb", words_bound)
            .select(id_col,
                    F.col("__wb.n").cast("long").alias("n_words"),
                    F.size(rm).cast("long").alias("n_removed"),
                    F.col("__wb.kept").alias("text_kept")))


def ngram_novelty(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document novelty score: the fraction of the document's
    DISTINCT n-gram spans never seen in any earlier document (by
    ``id_col`` order) — the streaming-ingest curation signal for "how
    much does this document add over what the corpus already has"
    (the complement of span_duplication's corpus-wide dup profile;
    RETSim/Gopher-style pipelines use it to rank crawl increments).

    First ownership = min(id) per span, so the score is a pure
    function of the corpus and the id order: doc d's span is novel
    iff no doc with smaller id carries it. Documents shorter than
    ``n`` words carry no spans and are absent from the output (the
    span_duplication contract).

    Scale shape: array_distinct BEFORE the explode (within-doc dups
    can only arise inside one row), one span-keyed window for the
    min-owner, one doc-keyed rollup — exactly span_duplication's two
    shuffles; the ratio is exact-integer counts -> ONE double
    division.
    """
    pairs = (with_word_shingles(
        docs.select(id_col, text_col), text_col, n=n, out="__grams")
        .select(id_col,
                F.explode(F.array_distinct("__grams")).alias("__g")))
    w = Window.partitionBy("__g")
    flagged = pairs.withColumn("__first", F.min(id_col).over(w))
    return (flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum((F.col("__first") == F.col(id_col)).cast("long"))
         .alias("n_novel"))
        .withColumn("novelty_ratio",
                    F.round(F.col("n_novel") / F.col("n_grams"), 4)
                    + F.lit(0.0)))
