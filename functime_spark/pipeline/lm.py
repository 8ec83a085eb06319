"""In-engine n-gram language-model scoring (perplexity filtering).

CCNet-style corpus curation scores each document with a language
model's cross-entropy and keeps the low-perplexity head. Instead of
shipping a KenLM binary to every executor, this trains an
interpolated unigram/bigram LM *inside* the engine (two hash
aggregates) and scores documents with pure joins — no Python in the
hot path, fully value-replayable in SQL.

Model: p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i) / c(w_{i-1})
                        + (1 - lam) * (c(w_i) + alpha) / (N + alpha * V)
with the first token scored by the smoothed unigram alone. Unseen
words fall back to the add-alpha unigram floor, so scoring held-out
text is well-defined.

Scale design: counts are groupBy hash aggregates with map-side
partial combine (token keys are Zipf-skewed, but the aggregate output
is ONE row per key, so skew lands on the pre-aggregation side where
combiners flatten it). Scoring joins the token stream against the
count tables on token keys; at 100 TB the unigram table is
~vocab-sized (often broadcastable — AQE decides) while the bigram
join is a shuffle hash join on the bigram key. ``min_count`` prunes
the bigram tail (billions of hapax bigrams at corpus scale) with the
interpolation absorbing the mass shift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from functime_spark.materialize import materialize
from functime_spark.pipeline._util import spread_for_cpu as _spread_for_cpu


def _tok_arr(text_col):
    return F.filter(F.split(text_col, r"\s+"), lambda x: x != "")


def _pair_arr_from(ws):
    """array<struct<w1,w2>> of (previous, current) tokens from an
    ALREADY-MATERIALIZED token-array column; w1 is null for the first
    token. element_at is 1-based, so element_at(ws, i) at 0-based
    position i IS the predecessor (guarded: i=0 would be an invalid
    index under ANSI).

    ``ws`` must be a plain attribute from a child projection: inlining
    the tokenizer expression here makes element_at re-derive the WHOLE
    token array once per element — O(n^2) per document (measured 5.7x
    on the bigram count at sf0.1)."""
    return F.transform(
        ws,
        lambda w, i: F.struct(
            F.when(i > 0, F.element_at(ws, i)).alias("w1"), w.alias("w2")
        ),
    )


def fit_ngram_lm(
    train: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> dict:
    """Count tables for the interpolated bigram LM.

    Returns {"uni": (token, c), "bi": (w1, w2, c), "n_tokens": long,
    "vocab": long}. The two scalars are driver-held (one tiny action
    over the unigram aggregate).

    r11 optimization: narrow train inputs rebalance before the
    tokenization (spread_for_cpu — only a narrow input moves): the pair
    explode and the count aggregate's map-side combine are the fit's
    whole cost, and a one-row-group parquet corpus would run them on
    one core (guide §2.5). Count values are unchanged — integer sums
    over the same keys."""
    base = _spread_for_cpu(train).select(
        _tok_arr(F.col(text_col)).alias("__ws")
    )
    # ONE corpus tokenization pass: aggregate the (prev, cur) pair
    # stream — UNFILTERED, so every token appears exactly once as w2
    # (the first token pairs with w1=null) — and derive the unigram
    # table from the bigram table: c(w) = sum over w1 of c(w1, w2=w).
    # The derivation runs on the vocab^2-bounded count table, never
    # re-reading the corpus (the previous two-aggregate form tokenized
    # the training set twice).
    pairs = base.select(
        F.explode(_pair_arr_from(F.col("__ws"))).alias("p")
    ).select("p.w1", "p.w2")
    bi_full = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    # materialize the count table: it feeds the unigram derivation and
    # the scoring joins across multiple plan branches (w1-join,
    # w2-join, bigram join, held-out reuse, quality_tiers' percentile
    # + projection lineages). Without a cut every branch re-aggregates
    # the training corpus — 5+ source scans measured. Vocab-bounded:
    # pay once. r11: LAZY checkpoints — the totals action below
    # computes and pins the whole bi -> uni chain in ONE Spark job
    # (eager=True paid one job per table for the same end state).
    bi_full = materialize(bi_full, eager=False)
    uni = materialize(
        bi_full.groupBy(F.col("w2").alias("w"))
        .agg(F.sum("c").cast("long").alias("c")),
        eager=False,
    )
    bi = bi_full.filter(F.col("w1").isNotNull())
    if min_count > 1:
        bi = bi.filter(F.col("c") >= min_count)
    bi = bi.select("w1", "w2", "c")
    totals = uni.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    return {
        "uni": uni,
        "bi": bi,
        "n_tokens": int(totals["n"] or 0),
        "vocab": int(totals["v"] or 0),
    }


def ngram_lm_score(
    docs: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    lam: float = 0.7,
    min_count: int = 1,
    lm: dict | None = None,
) -> DataFrame:
    """Per-document cross-entropy (nats/token) and perplexity under
    the corpus bigram LM. ``train`` defaults to ``docs`` (self-scored
    corpus quality); pass a fitted ``lm`` to reuse counts."""
    if lm is None:
        lm = fit_ngram_lm(train if train is not None else docs, text_col, min_count)
    n_tok, vocab = lm["n_tokens"], lm["vocab"]
    if n_tok == 0:
        # degenerate model (empty training corpus): every doc scores
        # the neutral ce=0 / ppl=1 instead of dividing by zero
        arr = _tok_arr(F.col(text_col))
        return docs.select(
            F.col(id_col),
            F.size(arr).cast("long").alias("n_tokens"),
            F.lit(0.0).alias("cross_entropy"),
            F.lit(1.0).alias("perplexity"),
        )
    # r11: rebalance narrow inputs before the scoring stream (same
    # rationale as the fit; each doc stays ONE row through the
    # exchange, so its token explode — and therefore the operand order
    # of its per-doc log-prob average — is byte-identical)
    docs = _spread_for_cpu(docs)
    stream = (
        docs.select(F.col(id_col), _tok_arr(F.col(text_col)).alias("__ws"))
        .select(F.col(id_col), F.explode(_pair_arr_from(F.col("__ws"))).alias("p"))
        .select(id_col, "p.w1", "p.w2")
    )
    uni = lm["uni"]
    p_uni = (F.col("__cu") + F.lit(alpha)) / F.lit(n_tok + alpha * vocab)
    scored = (
        stream.join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("__cu")),
            on="w2",
            how="left",
        )
        .join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("__c1")),
            on="w1",
            how="left",
        )
        .join(lm["bi"].withColumnRenamed("c", "__cb"), on=["w1", "w2"], how="left")
        .select(
            id_col,
            F.when(
                F.col("w1").isNull(),
                F.log(F.coalesce(p_uni, F.lit(alpha / (n_tok + alpha * vocab)))),
            )
            .otherwise(
                F.log(
                    F.lit(lam)
                    * F.coalesce(
                        F.col("__cb") / F.col("__c1"), F.lit(0.0)
                    )
                    + F.lit(1 - lam)
                    * F.coalesce(p_uni, F.lit(alpha / (n_tok + alpha * vocab)))
                )
            )
            .alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (-F.avg("__lp")).alias("cross_entropy"),
    )
    out = docs.select(id_col).join(per_doc, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("cross_entropy", F.lit(0.0)).alias("cross_entropy"),
    )
    return out.withColumn("perplexity", F.exp("cross_entropy"))


def _tri_arr_from(ws):
    """array<struct<w1,w2,w3>> of (prev-prev, prev, current) tokens
    from an ALREADY-MATERIALIZED token-array column; w1/w2 are null
    for the first two positions. Same attribute-not-inline rule as
    _pair_arr_from (element_at over an inlined tokenizer is O(n^2))."""
    return F.transform(
        ws,
        lambda w, i: F.struct(
            F.when(i > 1, F.element_at(ws, i - 1)).alias("w1"),
            F.when(i > 0, F.element_at(ws, i)).alias("w2"),
            w.alias("w3"),
        ),
    )


def fit_ngram_lm3(
    train: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> dict:
    """Count tables for the interpolated TRIGRAM LM (r10) — the
    CCNet-grade upgrade of fit_ngram_lm: one corpus tokenization pass
    aggregates the (w1, w2, w3) triple stream (w1/w2 null-padded at
    document starts, so every token appears exactly once as w3 and
    every adjacent pair exactly once as (w2, w3)), and the bigram and
    unigram tables DERIVE from the trigram count table — the fit
    never re-reads the corpus.

    Returns {"tri": (w1,w2,w3,c), "bi": (wa,wb,c), "uni": (w,c),
    "n_tokens", "vocab"}. ``bi`` counts adjacent pairs ANYWHERE (the
    classic pair count, so a pair ending a document still counts —
    sum_w3 p(w3|w1,w2) can fall epsilon short of 1 at doc ends; a
    deterministic scoring convention, not a sampling model).
    ``min_count`` prunes the trigram tail only (hapax trigrams
    dominate corpus-scale counts; the interpolation absorbs the mass).

    Scale shape: one hash aggregate over the triple stream with
    map-side combine; the two derivations run on the count table
    (vocab-bounded), never the corpus. Narrow inputs rebalance before
    the tokenization (r11, same rationale as fit_ngram_lm)."""
    base = _spread_for_cpu(train).select(
        _tok_arr(F.col(text_col)).alias("__ws")
    )
    triples = base.select(
        F.explode(_tri_arr_from(F.col("__ws"))).alias("t")
    ).select("t.w1", "t.w2", "t.w3")
    # r11: lazy checkpoints — the totals action computes and pins the
    # tri -> bi -> uni chain in ONE Spark job (three eager cuts paid
    # three actions for the same pinned state)
    tri_full = materialize(
        triples.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c")),
        eager=False,
    )
    bi_full = materialize(
        tri_full.groupBy(
            F.col("w2").alias("wa"), F.col("w3").alias("wb")
        ).agg(F.sum("c").cast("long").alias("c")),
        eager=False,
    )
    uni = materialize(
        bi_full.groupBy(F.col("wb").alias("w"))
        .agg(F.sum("c").cast("long").alias("c")),
        eager=False,
    )
    bi = bi_full.filter(F.col("wa").isNotNull())
    tri = tri_full.filter(F.col("w1").isNotNull())
    if min_count > 1:
        tri = tri.filter(F.col("c") >= min_count)
    totals = uni.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    return {
        "tri": tri.select("w1", "w2", "w3", "c"),
        "bi": bi.select("wa", "wb", "c"),
        "uni": uni,
        "n_tokens": int(totals["n"] or 0),
        "vocab": int(totals["v"] or 0),
    }


def ngram_lm3_score(
    docs: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    lam3: float = 0.5,
    lam2: float = 0.3,
    min_count: int = 1,
    lm: dict | None = None,
) -> DataFrame:
    """Per-document cross-entropy (nats/token) and perplexity under an
    interpolated trigram LM with lower-order backoff (r10):

      p(w3 | w1, w2) = lam3 * c(w1 w2 w3) / c(w1 w2)
                     + lam2 * c(w2 w3)   / c(w2)
                     + lam1 * (c(w3) + alpha) / (N + alpha * V)

    with lam1 = 1 - lam3 - lam2. Unseen higher-order contexts (OOV
    history, a fresh trigram, position < 3) contribute 0 and the
    mass falls through to the lower orders — Jelinek-Mercer
    interpolation with coalesce-to-zero backoff, the same convention
    the bigram model pins. The FIRST token of a document is scored by
    the smoothed unigram alone (full mass, matching ngram_lm_score).

    Scale shape: scoring is five left joins against the count tables
    — unigram twice (w3 prob + w2 denominator; vocab-sized, usually
    broadcast), pair counts twice ((w2,w3) numerator + (w1,w2)
    trigram denominator), trigram once. All token-keyed shuffle hash
    joins at corpus scale; quality_tiers consumes the output
    unchanged (same (id, n_tokens, cross_entropy, perplexity)
    contract as the bigram scorer)."""
    if not (0.0 < lam3 + lam2 < 1.0) or lam3 < 0 or lam2 < 0:
        raise ValueError("need lam3, lam2 >= 0 with 0 < lam3 + lam2 < 1")
    lam1 = 1.0 - lam3 - lam2
    if lm is None:
        lm = fit_ngram_lm3(
            train if train is not None else docs, text_col, min_count
        )
    n_tok, vocab = lm["n_tokens"], lm["vocab"]
    if n_tok == 0:
        arr = _tok_arr(F.col(text_col))
        return docs.select(
            F.col(id_col),
            F.size(arr).cast("long").alias("n_tokens"),
            F.lit(0.0).alias("cross_entropy"),
            F.lit(1.0).alias("perplexity"),
        )
    # r11: rebalance narrow inputs before the scoring stream (same
    # per-doc-order-preserving argument as ngram_lm_score)
    docs = _spread_for_cpu(docs)
    stream = (
        docs.select(F.col(id_col), _tok_arr(F.col(text_col)).alias("__ws"))
        .select(
            F.col(id_col), F.explode(_tri_arr_from(F.col("__ws"))).alias("t")
        )
        .select(id_col, "t.w1", "t.w2", "t.w3")
    )
    uni, bi, tri = lm["uni"], lm["bi"], lm["tri"]
    floor = alpha / (n_tok + alpha * vocab)
    p_uni = (F.col("__c3") + F.lit(alpha)) / F.lit(n_tok + alpha * vocab)
    uni_term = F.coalesce(p_uni, F.lit(floor))
    scored = (
        stream.join(
            uni.select(F.col("w").alias("w3"), F.col("c").alias("__c3")),
            on="w3", how="left",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("__c2")),
            on="w2", how="left",
        )
        .join(
            bi.select(
                F.col("wa").alias("w2"), F.col("wb").alias("w3"),
                F.col("c").alias("__cb"),
            ),
            on=["w2", "w3"], how="left",
        )
        .join(
            bi.select(
                F.col("wa").alias("w1"), F.col("wb").alias("w2"),
                F.col("c").alias("__cctx"),
            ),
            on=["w1", "w2"], how="left",
        )
        .join(
            tri.withColumnRenamed("c", "__ct"),
            on=["w1", "w2", "w3"], how="left",
        )
        .select(
            id_col,
            F.when(F.col("w2").isNull(), F.log(uni_term))
            .otherwise(
                F.log(
                    F.lit(lam3)
                    * F.coalesce(F.col("__ct") / F.col("__cctx"), F.lit(0.0))
                    + F.lit(lam2)
                    * F.coalesce(F.col("__cb") / F.col("__c2"), F.lit(0.0))
                    + F.lit(lam1) * uni_term
                )
            )
            .alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (-F.avg("__lp")).alias("cross_entropy"),
    )
    out = docs.select(id_col).join(per_doc, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("cross_entropy", F.lit(0.0)).alias("cross_entropy"),
    )
    return out.withColumn("perplexity", F.exp("cross_entropy"))


def quality_tiers(
    scored: DataFrame,
    n_tiers: int = 4,
    score_col: str = "cross_entropy",
    ascending: bool = True,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Curriculum/quality bucketing: tier 0..n-1 by score percentile
    (tier 0 = best = lowest cross-entropy when ascending).

    Scale shape: ONE percentile aggregate produces the n-1 cut points
    (a single tiny row, broadcast back); assignment is a pure
    projection. Deliberately NOT ntile() — a global ntile is a
    single-partition window sort at corpus scale, and percentile cuts
    are stable under re-partitioning.

    ``exact=False`` (the DEFAULT — bounded state is the scale-safe
    default, exact is the opt-in) uses approx_percentile's mergeable
    GK sketch: aggregation state is O(accuracy) regardless of corpus
    size (rank error <= 1/accuracy, i.e. a few mis-tiered docs per
    ten thousand at the default — noise for curriculum bucketing).
    ``exact=True`` (the oracle-replayed semantics, pinned explicitly
    by the `text_quality_tiers` gate query) uses the exact percentile
    aggregate, whose final merge buffers one entry per DISTINCT score
    — fine at test scale, O(n_docs) memory for continuous scores at
    100 TB. Same recipe as `boosted_stumps`' histogram default."""
    # the scored frame feeds BOTH the percentile aggregate and the
    # output projection; un-cut, the whole upstream scoring chain (LM
    # joins, source scans) runs twice. One row per doc, few columns —
    # cheap to pin, and the only way the two consumers see one scan.
    # r11: lazy — whichever consumer executes first (the broadcast
    # cut-point build) computes and pins it; no separate action.
    scored = materialize(scored, eager=False)
    cuts = [i / n_tiers for i in range(1, n_tiers)]
    if exact:
        pct = [
            F.percentile(score_col, F.lit(c)).alias(f"q{i}")
            for i, c in enumerate(cuts)
        ]
    else:
        pct = [
            F.percentile_approx(score_col, F.lit(c), F.lit(accuracy))
            .cast("double").alias(f"q{i}")
            for i, c in enumerate(cuts)
        ]
    qs = scored.agg(F.array(*pct).alias("__cuts"))
    s = F.col(score_col) if ascending else -F.col(score_col)
    cutcol = F.col("__cuts") if ascending else F.transform(F.col("__cuts"), lambda x: -x)
    tier = F.aggregate(
        cutcol,
        F.lit(0),
        lambda acc, c: acc + F.when(s > c, F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        scored.crossJoin(F.broadcast(qs))
        .withColumn("tier", tier.cast("int"))
        .drop("__cuts")
    )
