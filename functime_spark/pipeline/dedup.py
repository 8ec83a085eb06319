"""Deduplication operators over a (doc_id, text) corpus.

Scale design: every variant is shuffle-bounded —

- exact: one hash-aggregate on the text (or its md5 at 100 TB to
  shrink shuffle payloads).
- MinHash-LSH: row-local signatures (array_min over each doc's own
  shingle array — ZERO shuffle, pure codegen) → band explode → bucket
  aggregate (one shuffle); only same-bucket pairs are candidates, so
  the quadratic verify step touches a vanishing fraction of pairs.
- SimHash: row-local per-bit votes over each doc's own token-hash
  array (zero shuffle), Hamming-band bucketing for candidates.
- n-gram Jaccard: exact verify on candidate pairs (or full self-join
  on small corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.pipeline._util import spread_for_cpu as _spread_for_cpu
from functime_spark.pipeline.similarity import _dot, _norm
from functime_spark.materialize import materialize

# Lane-derivation scheme of minhash_signatures. Persist next to any
# signature store (minhash_dedup_incremental) and refit on mismatch:
# scheme 1 = hash_i(s) over the gram string per lane;
# scheme 2 = per-lane rehash of one base gram hash (current).
SIGNATURE_SCHEME = 2


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per distinct text; report copy counts.

    Groups by md5(text), not the text itself: the shuffle carries a
    16-byte key instead of the full document (~100x smaller exchange
    at corpus scale; collision probability is negligible at any
    realistic corpus size)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("__k"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def exact_dedup_priority(
    docs: DataFrame,
    priority: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Exact dedup that keeps the copy from the highest-priority
    source — the standard cross-source merge rule (curated dump beats
    re-crawl beats CommonCrawl for the same text). ``priority`` lists
    source values best-first; unlisted (or NULL) sources rank after
    every listed one; ties break on min id, so the result is
    deterministic for any input order.

    Same plan shape as `exact_dedup`: ONE exchange on the 16-byte md5
    key — the winner is a struct-min of (rank, id, source) computed
    map-side, so the shuffle still carries one pre-aggregated row per
    distinct text, not the copies. The struct buffer makes this a
    SortAggregate (examined r11): the hash-only alternative needs a
    second aggregate exchange plus an id-keyed join back to re-attach
    the winner's source string — three shuffles against one shuffle +
    in-partition sorts, a worse trade at corpus scale (pinned by
    test_plans.py: <= 1 exchange, 1 scan)."""
    pr = F.array(*[F.lit(p) for p in priority])
    pos = F.array_position(pr, F.col(source_col))
    rank = F.when(pos > 0, pos).otherwise(F.lit(len(priority) + 1)).cast("long")
    best = F.min(
        F.struct(
            rank.alias("r"),
            F.col(id_col).alias("i"),
            F.col(source_col).alias("s"),
        )
    ).alias("__b")
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("__k"))
        .agg(best, F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.col("__b.i").alias(id_col),
            F.col("__b.s").alias(source_col),
            F.col("n_copies"),
        )
    )


def _hash64(col, seed=None, hash_fn: str = "xxhash64"):
    """64-bit hash of a string column.

    ``xxhash64`` (default): Spark's JVM-native xxHash — the fast path
    for production corpora. ``md5``: a 60-bit bigint from the first 15
    hex chars of md5(seed || ':' || s) — slower (crypto hash) but
    byte-exactly replayable in any engine with md5(), which is how the
    DuckDB correctness oracles value-verify the MinHash/SimHash
    pipelines end-to-end."""
    if hash_fn == "xxhash64":
        args = ([F.lit(seed)] if seed is not None else []) + [col]
        return F.xxhash64(*args)
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    s = col if seed is None else F.concat_ws(":", F.lit(str(seed)), col)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# XXH64 on one 8-byte block, vectorized in uint64 numpy — BIT-EXACT
# to Spark's XxHash64Function.hashLong / hashInt (probed r11 against
# F.xxhash64 across the long range; integer math, engine-independent).
# Used by the minhash signature kernel to derive per-lane hashes
# without n_hashes interpreted HOF sweeps.
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5


def _xxh64_long_vec(value, seed):
    """uint64 ndarray XXH64 of an 8-byte block: hashLong(value, seed).
    `value` and `seed` broadcast together (numpy rules)."""
    import numpy as np

    u = np.uint64
    P1, P2, P3, P4, P5 = (u(_XP1), u(_XP2), u(_XP3), u(_XP4), u(_XP5))
    h = seed + P5 + u(8)
    k1 = value * P2
    k1 = ((k1 << u(31)) | (k1 >> u(33))) * P1
    h = h ^ k1
    h = ((h << u(27)) | (h >> u(37))) * P1 + P4
    h ^= h >> u(33)
    h *= P2
    h ^= h >> u(29)
    h *= P3
    h ^= h >> u(32)
    return h


def _xxh64_int_seeds(n: int):
    """uint64 array of Spark's running hash after the INT literal lane
    index: hashInt(i, 42) for i in 0..n-1 — the seed each lane's
    hashLong chains from in xxhash64(lit(i), h)."""
    import numpy as np

    u = np.uint64
    P1, P2, P3, P5 = (u(_XP1), u(_XP2), u(_XP3), u(_XP5))
    err = np.seterr(over="ignore")
    try:
        i = np.arange(n, dtype=np.uint64)
        h = u(42) + P5 + u(4)
        h = h ^ ((i & u(0xFFFFFFFF)) * P1)
        h = ((h << u(23)) | (h >> u(41))) * P2 + P3
        h ^= h >> u(33)
        h *= P2
        h ^= h >> u(29)
        h *= P3
        h ^= h >> u(32)
        return h
    finally:
        np.seterr(**err)


def shingles(text_col, n: int = 3):
    """Word n-gram array (distinct) from a text column.

    Built as zip_with over n shifted slices: each slice evaluates the
    split once per ROW and the per-element lambda only concatenates —
    O(doc_len). The textbook transform(idx, i -> concat_ws(slice(
    words, i+1, n))) re-evaluates the inlined `words` for EVERY index,
    O(n_grams * doc_len) per row. concat_ws skips the nulls zip_with
    pads trailing slices with, so edge semantics match the slice-and-
    join form exactly (a doc shorter than n words yields its single
    joined gram)."""
    words = F.split(text_col, r"\s+")
    m = F.greatest(F.size(words) - (n - 1), F.lit(1))
    gram = F.slice(words, 1, m)
    for k in range(1, n):
        gram = F.zip_with(
            gram,
            F.slice(words, k + 1, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(gram)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<bigint>): k permutation-free min-hashes —
    hash_i(s) = xxhash64(i, xxhash64(s)) on the production path,
    md5-derived hash_i(s) = h(i || ':' || s) on the oracle path.

    The signature itself is shuffle-free: each row's lanes are
    `array_min` over its OWN shingle array — a pure codegen
    projection. (The previous formulation exploded the corpus' entire
    shingle stream into a grouped min, paying a full shuffle of
    ~n_words x n_docs rows.) On a NARROW batch input (one row group)
    a round-robin rebalance to one partition per core slot precedes
    the projection (`spread_for_cpu`), so the numpy sweep runs on
    every core but starts no more Python tasks than there are slots:
    each task pays 0.2–0.25 s of pyspark worker start-up (zipimport cache
    invalidation, see `pipeline._util`), more than the sweep itself
    over 500 docs. A no-op on wide inputs and on streams; pass an
    already-partitioned frame to pin a zero-exchange plan. Stateless
    per row, hence directly usable on a stream.

    Changing either hash derivation invalidates persisted signature
    stores — bump SIGNATURE_SCHEME and see minhash_dedup_incremental's
    store contract."""
    docs = _spread_for_cpu(docs)
    sh = shingles(F.col(text_col), shingle_n)

    # Two-step projection, deliberately: the shingle construction
    # (split -> slice -> concat_ws -> array_distinct) must evaluate
    # ONCE per row, then feed all n_hashes min-sweeps as a plain
    # attribute. Inlining `sh` into every lane re-derives the shingle
    # array n_hashes times — higher-order-function chains don't
    # common-subexpression-eliminate, and Catalyst's CollapseProject
    # keeps this two-step shape because a non-cheap alias referenced
    # n_hashes times is never re-inlined. (Measured: 32 lanes over
    # 5k docs went 85s -> ~1s.) Still a zero-shuffle projection.
    withsh = docs.select(F.col(id_col), sh.alias("__sh"))
    if hash_fn == "xxhash64":
        # production fast path: UTF-8-hash each gram ONCE in the JVM,
        # then derive the n_hashes lanes by re-hashing the resulting
        # 8-byte long with per-lane seeds — hash_i(s) =
        # xxhash64(i, xxhash64(s)), the same minwise-independence as
        # seeded string hashing. The md5 branch below keeps the
        # seed-prefixed STRING hash byte-exactly replayable in the
        # DuckDB oracles.
        #
        # r11: the n_hashes min-sweeps run as ONE Arrow-vectorized
        # numpy kernel instead of n_hashes array_min(transform(...))
        # expressions — higher-order functions are CodegenFallback
        # (interpreted per element), and XXH64 on a single 8-byte
        # block is pure uint64 arithmetic that numpy reproduces
        # BIT-EXACTLY (probed against F.xxhash64 over the full long
        # range, incl. the hashInt seed-chain for the lane literal;
        # pinned by test_pipeline's kernel-vs-expression identity
        # test). Integer min over the signed view matches array_min's
        # signed comparison. Stateless per row — still stream-safe.
        withsh = withsh.select(
            F.col(id_col),
            F.transform(F.col("__sh"), lambda s: F.xxhash64(s)).alias("__hs"),
        )
        id_field = withsh.schema.fields[0]
        out_schema = (
            f"{id_field.name} {id_field.dataType.simpleString()}, "
            "sig array<bigint>"
        )
        lanes = _xxh64_int_seeds(n_hashes)

        def run(batches):
            import numpy as np
            import pandas as pd

            err = np.seterr(over="ignore")
            try:
                for pdf in batches:
                    ids, sigs = [], []
                    for did, hs in zip(pdf[id_field.name], pdf["__hs"]):
                        ids.append(did)
                        if hs is None or len(hs) == 0:
                            sigs.append([None] * n_hashes)
                            continue
                        g = np.asarray(hs, dtype=np.int64).view(np.uint64)
                        # (n_hashes, n_grams) lane hashes, signed min
                        hv = _xxh64_long_vec(g[None, :], lanes[:, None])
                        sigs.append(
                            [int(x) for x in hv.view(np.int64).min(axis=1)]
                        )
                    yield pd.DataFrame({id_field.name: ids, "sig": sigs})
            finally:
                np.seterr(**err)

        return withsh.mapInPandas(run, schema=out_schema)

    def _hasher(seed):
        # single-arg lambda: a 2-arg transform lambda would receive
        # the ARRAY INDEX as its second argument and shadow the seed
        return lambda s: _hash64(s, seed=seed, hash_fn=hash_fn)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__sh"), _hasher(i)))
            for i in range(n_hashes)
        ]
    )
    return withsh.select(F.col(id_col), sig.alias("sig"))


def _bucket_pairs(
    banded: DataFrame,
    keys: list,
    max_bucket_size: int,
    item_cols: list,
) -> DataFrame:
    """Same-bucket candidate pairs: buckets past `max_bucket_size` drop
    whole (_cap_buckets), each survivor is collected once, and its i<j
    pairs explode row-locally. The cap window and the collect share one
    hash partitioning on `keys`, so the plan crosses ONE exchange and an
    over-cap key never fills an aggregation buffer. NULL keys group
    (and drop past the cap) like any other key.

    ``item_cols`` lead with the id column: `sort_array` orders the
    bucket's item structs lexicographically, so positional i<j pairs
    come out id-ordered (callers with non-unique ids per bucket — the
    timed audio constellation rows — still filter a.id < b.id).
    Returns one row per pair with struct columns ``a`` and ``b``."""
    item = F.struct(*[F.col(c) for c in item_cols])
    buckets = (
        _cap_buckets(banded, keys, max_bucket_size)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(item)).alias("__s"))
        .filter(F.size("__s") >= 2)
    )
    # pair fan-out as TWO Generate (explode) steps — posexplode the
    # bucket, then explode each element's tail slice. A single nested
    # transform/flatten expression produces the same pairs but runs
    # through interpreted higher-order lambdas (in-session A/B over
    # the 111k-row audio fp frame: 2.6 s nested-HOF vs 1.2 s
    # double-Generate).
    e1 = buckets.select("__s", F.posexplode("__s").alias("__i", "a"))
    return e1.select(
        "a",
        F.explode(
            F.slice("__s", F.col("__i") + 2, F.size("__s"))
        ).alias("b"),
    )


def _cap_buckets(banded: DataFrame, keys: list, max_bucket_size: int) -> DataFrame:
    """Drop buckets larger than max_bucket_size before pairing — the
    one bucket wall of every LSH operator (_bucket_pairs and the
    incremental store joins).

    One pathological bucket (empty/boilerplate docs that all hash
    identically) would otherwise emit O(b^2) candidate pairs and a
    straggler task at corpus scale. Oversized buckets are dominated by
    EXACT duplicates, which exact_dedup already catches with a linear
    hash-aggregate — dropping them here loses only near-dups hiding
    inside a crowd of exact dups. The count window shares the
    downstream aggregate's or join's hash partitioning on the bucket
    key, so the guard adds no extra shuffle."""
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def _store_pairs(
    new: DataFrame,
    store: DataFrame | None,
    keys: list,
    max_bucket_size: int,
    item_cols: list,
    new_pairs: bool = True,
) -> DataFrame:
    """Candidate pairs of a new batch against a store (a persisted
    signature store, or a probe set): the new-vs-new pairs of
    _bucket_pairs (unless ``new_pairs`` is False), unioned with every
    new item joined to every store item of its bucket, each side
    capped by _cap_buckets first. Same ``a``/``b`` struct rows as
    _bucket_pairs; ``a`` is always a new item. The cross join is a
    plain equi-join on the keys, so it reuses the cap windows' hash
    partitioning (no exchange of its own, and no broadcast hint: AQE
    still broadcasts a small side); a NULL key therefore pairs within
    the new batch but never across to the store (a null-safe join
    would re-shuffle both sides on coalesce/isnull keys). ``store``
    None leaves the new-vs-new pairs alone."""
    pairs = _bucket_pairs(new, keys, max_bucket_size, item_cols) if new_pairs else None
    if store is None:
        return pairs

    def side(df, name):
        return _cap_buckets(df, keys, max_bucket_size).select(
            *keys, F.struct(*[F.col(c) for c in item_cols]).alias(name)
        )

    cross = side(new, "__a").join(side(store, "__b"), keys).select(
        F.col("__a").alias("a"), F.col("__b").alias("b")
    )
    return cross if pairs is None else pairs.unionByName(cross)


# The verify formulas of the near-dup operators, each written once over
# the ``a``/``b`` item structs of _bucket_pairs / _store_pairs.


def _hamming(field: str):
    """Hamming distance between the a and b items' 64-bit ``field``."""
    return F.bit_count(F.col(f"a.{field}").bitwiseXOR(F.col(f"b.{field}")))


def _slot_agreement(field: str = "sig"):
    """MinHash Jaccard estimate: the share of the a and b signature
    slots that agree (NULL slots never agree)."""
    a, b = F.col(f"a.{field}"), F.col(f"b.{field}")
    agree = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    return F.size(agree) / F.size(a)


def _cosine():
    """Cosine of the a and b items' vectors ``__v`` from their L2
    norms ``__n``."""
    return _dot(F.col("a.__v"), F.col("b.__v")) / (F.col("a.__n") * F.col("b.__n"))


def _best_offset(votes: DataFrame, min_matches: int) -> DataFrame:
    """(id_a, id_b, offset, n_matches): each pair's best offset among
    its (id_a, id_b, offset, n_matches) vote rows — most matches,
    smallest offset on ties — kept when it has >= ``min_matches``.
    The argmax is a lexicographic struct MAX (n DESC via max, offset
    ASC via the negated tiebreak): an associative aggregate, so the
    per-pair reduction combines map-side and its shuffle carries at
    most one row per pair per partition (a row_number window would
    re-shuffle and sort every vote row)."""
    best = F.max(
        F.struct(
            F.col("n_matches"),
            (-F.col("offset")).alias("noff"),
            F.col("offset"),
        )
    ).alias("b")
    return (
        votes.groupBy("id_a", "id_b")
        .agg(best)
        .select(
            "id_a",
            "id_b",
            F.col("b.offset").alias("offset"),
            F.col("b.n_matches").alias("n_matches"),
        )
        .filter(F.col("n_matches") >= min_matches)
    )


def band_rows(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    hash_fn: str = "xxhash64",
    with_sig: bool = False,
) -> DataFrame:
    """(id[, sig], band, band_hash) LSH band rows from a signature
    frame — the single definition of the band payload (concat of the
    band's signature slots), shared by the batch operators and the
    streaming bucket-state op so their bucketing can never drift."""
    sig = F.col("sig")
    r = F.floor(F.size(sig) / bands).cast("int")
    cols = [F.col(id_col)] + ([F.col("sig")] if with_sig else [])
    return sigs.select(
        *cols,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: _hash64(
                    F.concat_ws(",", F.transform(
                        F.slice(sig, b * r + 1, r), lambda v: v.cast("string")
                    )),
                    hash_fn=hash_fn,
                ),
            )
        ).alias("band", "band_hash"),
    )


def bit_band_rows(sigs: DataFrame, sig_col: str, band_bits: int) -> DataFrame:
    """``sigs`` plus (band, band_val) LSH band rows: the 64-bit
    signature ``sig_col`` cut into ``band_bits``-wide slices — the
    single band definition of the Hamming-distance tiers (simhash and
    the dHash image, video and streaming operators)."""
    mask = F.lit((1 << band_bits) - 1)
    return sigs.select(
        "*",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(sig_col, i * band_bits).bitwiseAND(mask)
                    for i in range(64 // band_bits)
                ]
            )
        ).alias("band", "band_val"),
    )


def lsh_tuning(n_hashes: int = 32, bands: int = 8) -> dict:
    """Banding-parameter diagnostics for MinHash-LSH: the S-curve
    threshold t ~ (1/b)^(1/r) where candidate probability crosses 1/2,
    and a `collision_prob(s) = 1 - (1 - s^r)^b` callable — the standard
    tuning math (Leskovec/Rajaraman/Ullman, "Mining of Massive
    Datasets" ch. 3) for choosing n_hashes/bands against a target
    Jaccard threshold before paying a corpus-scale banding pass."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} "
            "(equal-width band slices)"
        )
    r = n_hashes // bands

    def collision_prob(s: float) -> float:
        return 1.0 - (1.0 - s**r) ** bands

    return {
        "rows_per_band": r,
        "threshold": (1.0 / bands) ** (1.0 / r),
        "collision_prob": collision_prob,
    }


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → band buckets
    (the 512-item _cap_buckets wall) → signature-similarity verify →
    (id_a, id_b, est_jaccard), one row per pair (id_a < id_b).

    The signature rides in the item struct, so the verify is a
    projection of each candidate pair and the signature pass has one
    consumer: no lineage cut and no join back. A pair sharing several
    bands is verified once per band, then deduplicated."""
    sigs = minhash_signatures(docs, text_col, id_col, n_hashes, shingle_n, hash_fn)
    banded = band_rows(sigs, id_col, bands, hash_fn, with_sig=True)
    pairs = _bucket_pairs(banded, ["band", "band_hash"], 512, [id_col, "sig"])
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _slot_agreement().alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over co-shingled pairs (id_a < id_b).

    The gram-equi-join prunes pairs with zero overlap, so the shuffle
    carries only (gram, doc) postings — the classic
    inverted-index-join formulation.

    Grams with document frequency above ``max_df_frac`` of the corpus
    (stopword/boilerplate shingles) are dropped BEFORE the postings
    join — a near-universal gram contributes ~n_docs^2 join rows while
    carrying no discriminative signal. Jaccard is computed over the
    surviving gram space (sizes recomputed post-filter), the standard
    high-DF-cutoff semantics."""
    grams = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("g")
    )
    if max_df_frac is not None:
        # the df-cutoff stays in-plan: a count(*) aggregate over docs
        # (parquet metadata-only) cross-joined onto the per-gram doc
        # frequencies — no docs.count() driver action / extra job
        n_docs = docs.select(F.count(F.lit(1)).alias("__n"))
        dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
        heavy = (
            dfreq.crossJoin(n_docs)
            .filter(
                F.col("__df")
                > F.greatest(
                    F.lit(2), (F.lit(max_df_frac) * F.col("__n")).cast("long")
                )
            )
            .select("g")
        )
        grams = grams.join(heavy, on="g", how="left_anti")
    # the filtered postings feed the size aggregate AND both sides of
    # the inverted-index join: cut the lineage so the explode+DF-filter
    # chain (and the corpus scan under it) materializes ONCE instead of
    # re-running per consumer (was 8 plan scans; localCheckpoint spills
    # to executor-local disk, the same durability class as a
    # MEMORY_AND_DISK cache at cluster scale). r11: lazy — all three
    # consumers run inside the caller's single action.
    grams = materialize(grams, eager=False)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col(id_col).alias("id_a"), "g")
    b = grams.select(F.col(id_col).alias("id_b"), "g")
    shared = (
        a.join(b, ["g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    # no broadcast hints: `sizes` has one row PER DOCUMENT, so a forced
    # broadcast is a driver/executor OOM at corpus scale (10^8+ docs).
    # AQE still broadcasts when the frame is actually small; otherwise
    # these are plain shuffle joins on the keys `shared` already
    # shuffled on.
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash: per-token 64-bit hash, per-bit majority vote.

    ZERO-shuffle: token hashes and all `bits` votes reduce over each
    row's OWN token array (pure codegen projection) — the explode +
    grouped-sum formulation shuffled the corpus token stream; integer
    sums over the same multiset are order-independent, so signatures
    (and the oracle replay) are unchanged. Duplicate tokens still
    vote once each (frequency weighting preserved)."""
    hashed = docs.select(
        F.col(id_col),
        F.transform(
            F.split(F.col(text_col), r"\s+"),
            lambda t: _hash64(t, hash_fn=hash_fn),
        ).alias("__hs"),
    )

    def _vote(i):
        # single-arg lambda (2-arg transform/aggregate lambdas receive
        # the array index as the second argument)
        return F.aggregate(
            "__hs",
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(
            _vote(i) > 0,
            F.lit(1).cast("long") * (2**i if i < 63 else -(2**63)),
        ).otherwise(0)
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    band_bits: int = 16,
    max_bucket_size: int = 512,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs sharing any 16-bit simhash band, verified by
    exact Hamming distance <= max_hamming. Buckets larger than
    `max_bucket_size` are dropped (see _cap_buckets)."""
    # no lineage cut: _bucket_pairs consumes the signature projection
    # exactly once
    sigs = simhash(docs, text_col, id_col, hash_fn=hash_fn)
    banded = bit_band_rows(sigs, "simhash", band_bits)
    # the sig long rides in the item struct, so the Hamming verify
    # needs no join back to the signature frame
    pairs = _bucket_pairs(
        banded, ["band", "band_val"], max_bucket_size, [id_col, "simhash"]
    )
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _hamming("simhash").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _vec_dim(emb: DataFrame, vec_col: str) -> int | None:
    """Dimension of the first vector, None for an empty frame — one
    `first()` probe per embedding side, shared by the dimension check
    and the plane draw."""
    first = emb.select(F.size(vec_col).alias("d")).first()
    return None if first is None else first["d"]


def _lsh_hashed(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int,
    seed: int,
    dim: int | None,
) -> DataFrame:
    """(id, __v, __bkt, __n): the hyperplane-LSH hash stage shared by
    embedding_near_dups and semantic_decontaminate — sign-bit bucket
    from seeded planes riding in ONE broadcast single-row frame, plus
    the vector and its L2 norm for the in-bucket verify. Both callers
    MUST hash with the same (n_planes, seed) for buckets to align.
    `dim` is the caller's `_vec_dim` probe of `emb`."""
    import numpy as np

    v = F.col(vec_col).cast("array<double>")
    if dim is None:
        # empty frame: no rows to hash — emit an empty result with the
        # contract schema (empty-corpus sweeps and drained filter
        # chains must not crash on first()[...]).
        return emb.select(
            F.col(id_col),
            v.alias("__v"),
            F.lit(0).cast("long").alias("__bkt"),
            F.lit(0.0).alias("__n"),
        ).limit(0)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    spark = emb.sparkSession
    pl_frame = spark.createDataFrame(
        [([[float(x) for x in p] for p in planes],)],
        "__planes array<array<double>>",
    )
    bits = F.transform(
        F.col("__planes"),
        lambda p, i: F.when(
            _dot(v, p) > 0,
            # SQL shiftleft accepts a column bit-count; the Python
            # wrapper F.shiftleft only takes a literal int
            F.call_function("shiftleft", F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long")),
    )
    bucket = F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return emb.crossJoin(F.broadcast(pl_frame)).select(
        F.col(id_col), v.alias("__v"), bucket.alias("__bkt"), _norm(v).alias("__n")
    )


def embedding_near_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Cosine near-duplicates via random-hyperplane LSH buckets +
    exact verify inside buckets. Buckets larger than `max_bucket_size`
    are dropped (see _cap_buckets) — a degenerate bucket (duplicate-
    heavy or all-zero vectors, which every hyperplane sends to the
    same side) would otherwise emit O(b^2) verify pairs.

    The plane matrix rides in ONE broadcast single-row frame (same
    pattern as IVFIndex.assign), not as n_planes x dim literals in the
    expression tree — plan size stays O(1) in n_planes, so 64-plane
    production configs don't blow up codegen; the 2-arg transform
    lambda's index argument supplies each plane's bit weight."""
    hashed = _lsh_hashed(
        emb, vec_col, id_col, n_planes, seed, _vec_dim(emb, vec_col)
    )
    pairs = _bucket_pairs(
        hashed, ["__bkt"], max_bucket_size, [id_col, "__v", "__n"]
    )
    return pairs.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        _cosine().alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def semantic_decontaminate(
    emb: DataFrame,
    probe_emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "vec_id",
    n_planes: int = 12,
    seed: int = 42,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Embedding-level benchmark decontamination: (corpus_id,
    probe_id, cosine) for every corpus vector whose cosine to an
    eval-set probe vector clears ``threshold`` — catches paraphrased
    contamination the n-gram `decontaminate` overlap misses.

    Both sides hash with the SAME seeded hyperplanes; the exact cosine
    verify touches only same-bucket corpus-vs-probe pairs
    (_store_pairs, probe as the store side). Bucket caps apply per
    side, like minhash_dedup_incremental. Anti-join the result on
    corpus id to scrub."""
    dc = _vec_dim(emb, vec_col)
    dp = _vec_dim(probe_emb, vec_col)
    if dc is not None and dp is not None and dc != dp:
        # zip_with would null-pad the shorter vector -> cosine NULL ->
        # every pair silently filtered out: a false "corpus is clean"
        raise ValueError(
            f"corpus ({dc}-dim) and probe ({dp}-dim) embeddings "
            "must come from the same model/dimension"
        )
    hc = _lsh_hashed(emb, vec_col, id_col, n_planes, seed, dc)
    hp = _lsh_hashed(
        probe_emb, vec_col, probe_id_col, n_planes, seed, dp
    ).withColumnRenamed(probe_id_col, id_col)
    pairs = _store_pairs(
        hc, hp, ["__bkt"], max_bucket_size, [id_col, "__v", "__n"],
        new_pairs=False,
    )
    return pairs.select(
        F.col(f"a.{id_col}").alias("corpus_id"),
        F.col(f"b.{id_col}").alias("probe_id"),
        _cosine().alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a duplicate-pair graph via the
    alternating large-star / small-star algorithm (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the step that
    turns near-dup PAIRS into dedupable CLUSTERS.

    Scale design: each half-round is one scalar per-node aggregate
    (min neighbor) plus one equi-join — neighbor lists are never
    collected, so a 10M-member dup cluster costs the same as join skew
    AQE already splits. Edges stay oriented larger→smaller between
    rounds. Converges in O(log^2 n) alternations (real dup graphs:
    3-5); each round is localCheckpoint-ed so lineage stays flat and
    the convergence signature (count + hash-sum) is one tiny action.

    Returns (node, component) with component = min node id reachable;
    every node that appears in `pairs` is assigned.
    """
    e = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("big"), F.least("a", "b").alias("small")
        )
        .distinct()
    )
    e = materialize(e)
    prev_sig = None
    for _ in range(max_iter):
        # large-star: symmetrize, then connect every neighbor v > u to
        # m(u) = min(Γ(u) ∪ {u}); emitted edges keep big > small.
        sym = e.select("big", "small").unionByName(
            e.select(F.col("small").alias("big"), F.col("big").alias("small"))
        ).select(F.col("big").alias("u"), F.col("small").alias("v"))
        mins = sym.groupBy("u").agg(F.min("v").alias("nmin"))
        m = F.least(F.col("u"), F.col("nmin"))
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("big"), m.alias("small"))
            .distinct()
        )
        # small-star: key by the larger endpoint; connect each smaller
        # neighbor (and the node itself) to the min smaller neighbor.
        mins2 = e.groupBy("big").agg(F.min("small").alias("m"))
        joined = e.join(mins2, "big")
        e = (
            joined.where(F.col("small") != F.col("m"))
            .select(F.col("small").alias("big"), F.col("m").alias("small"))
            .unionByName(mins2.select(F.col("big"), F.col("m").alias("small")))
            .distinct()
        )
        e = materialize(e)
        # overflow-proof convergence signature: bit_xor of the row
        # hashes is order-independent and cannot overflow a long even
        # under spark.sql.ansi.enabled=true (the driver session default;
        # a sum of uniform 64-bit hashes overflows on any real edge set).
        sig = e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("big", "small")).alias("h"),
        ).first()
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    # fixpoint: e is a star per component — (node, root) for every
    # non-root node. Emit roots too.
    return (
        e.select(F.col("big").alias("node"), F.col("small").alias("component"))
        .unionByName(
            e.select(F.col("small").alias("node"), F.col("small").alias("component"))
        )
        .distinct()
    )


def component_size_histogram(comps: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters): duplicate-cluster size distribution
    from a `connected_components` node→component map — the standard
    dedup-health diagnostic (a fat tail means the shingle/threshold
    choice is gluing unrelated docs; CCNet and Gopher both report it).

    Two hash aggregates over the (tiny relative to the corpus)
    component map; nothing about the corpus itself is touched."""
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Drop every duplicate-cluster member except the canonical one
    (min id): docs anti-join the non-root side of the component map."""
    comps = connected_components(pairs, src, dst)
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")


def semantic_dedup_pairs(
    emb: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iter: int = 5,
    max_bucket_size: int = 512,
    index=None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicates (Abbas et al. 2023):
    k-means-cluster the embeddings, then exact cosine verify ONLY
    within clusters — same-cluster pairs capture near-dups at 1/k of
    the full quadratic cost. Reuses the IVFIndex spread-init k-means
    (deterministic, SQL-replayable); clusters larger than
    `max_bucket_size` are dropped like every other bucketed verify
    (see _cap_buckets). At 100 TB the assignment is a one-pass
    projection (or a partition column via IVFIndex.write_index) and
    the in-cluster pairs (_bucket_pairs) shuffle once on the cluster
    id."""
    from functime_spark.pipeline.similarity import IVFIndex

    idx = index
    if idx is None:
        idx = IVFIndex(n_cells=n_clusters, n_iter=n_iter, init="spread").fit(
            emb, vec_col=vec_col, id_col=id_col
        )
    v = F.col(vec_col).cast("array<double>")
    assigned = idx.assign(emb, vec_col).select(
        F.col(id_col), v.alias("__v"), _norm(v).alias("__n"), "__cell"
    )
    pairs = _bucket_pairs(
        assigned, ["__cell"], max_bucket_size, [id_col, "__v", "__n"]
    )
    return pairs.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        _cosine().alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    **kwargs,
) -> DataFrame:
    """Keep one canonical member (min id) per semantic-dup cluster."""
    pairs = semantic_dedup_pairs(
        emb, n_clusters, threshold, vec_col, id_col, **kwargs
    )
    return dedup_keep_canonical(emb, pairs, id_col=id_col)


def dedup_lines_within_doc(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """WITHIN-document repeated-line removal: keep each line's first
    occurrence inside its own document (boilerplate like repeated
    nav/footer blocks duplicated by a scraper), complementing
    line_dedup's corpus-wide CCNet pass. Pure zero-shuffle projection:
    split -> array_distinct (first-occurrence order preserved) ->
    re-join; stateless per row, stream-legal.

    Returns (id, text, n_lines, n_kept)."""
    import re as _re

    # F.split treats sep as a Java regex while F.array_join uses it
    # literally — escape the split side so a separator containing
    # regex metacharacters ('.', '|', '+') stays a literal (ADVICE r5;
    # same rule as line_dedup below)
    lines = F.split(F.col(text_col), _re.escape(sep))
    kept = F.array_distinct(lines)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, sep).alias(text_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_count: int = 2,
    min_line_chars: int = 1,
    keep_first: bool = False,
) -> DataFrame:
    """CCNet-style duplicated-line removal across the whole corpus
    (Wenzek et al. 2020): split each document into lines on ``sep``,
    count each normalized (trimmed, lowercased) line's occurrences
    corpus-wide, and drop lines occurring >= ``min_count`` times —
    boilerplate headers/footers/navigation that repeat across pages.
    With ``keep_first=True`` the single earliest (doc_id, position)
    copy of each common line survives instead of none. Lines shorter
    than ``min_line_chars`` (after trim) are exempt from dedup.

    Returns (id_col, text, n_lines, n_kept) — text is the document
    reassembled from surviving lines in original order (empty string
    if nothing survives).

    Scale: the corpus-wide count is ONE hash aggregate keyed by
    xxhash64 of the normalized line — an 8-byte shuffle key with
    map-side partial combine, so billion-fold-repeated boilerplate
    costs one partial row per map task, not a hot reduce key. The
    join back is the same 8-byte key (no line text in the exchange on
    the build side), and reassembly is one groupBy(doc) whose state is
    bounded by document size. Three shuffles total, independent of
    corpus size. 64-bit key collisions merge counts of unrelated
    lines with negligible probability (see exact_dedup)."""
    import re as _re

    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("__pos", "__line"),
    )
    norm = F.lower(F.trim(F.col("__line")))
    lines = lines.withColumn(
        "__k",
        F.when(F.length(norm) >= min_line_chars, F.xxhash64(norm)),
    )
    # r11: count-only hash aggregate in both modes — folding the
    # keep_first winner in as min(struct(doc, pos)) downgraded the
    # whole corpus-wide aggregate to SortAggregate (struct buffers are
    # not hash-aggregable), i.e. two full sorts of the line stream.
    eligible = lines.where(F.col("__k").isNotNull())
    counts = eligible.groupBy("__k").agg(F.count(F.lit(1)).alias("__cnt"))
    joined = lines.join(counts, on="__k", how="left")
    keep = F.col("__k").isNull() | (F.col("__cnt") < min_count)
    if keep_first:
        # the winner table is a min(struct) aggregate over the
        # DUPLICATED occurrences only (inner join with the dup keys
        # clusters them by __k, so the small sort-based aggregate is
        # co-partitioned and touches a fraction of the stream), then
        # joins back on the same key. Non-dup rows see a null
        # __first; their keep verdict comes from the disjuncts above.
        dup_occ = eligible.join(
            counts.where(F.col("__cnt") >= min_count).select("__k"),
            on="__k",
        )
        firsts = dup_occ.groupBy("__k").agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first")
        )
        joined = joined.join(firsts, on="__k", how="left")
        is_first = (F.col("__first")[id_col] == F.col(id_col)) & (
            F.col("__first")["__pos"] == F.col("__pos")
        )
        keep = keep | is_first
    marked = joined.select(
        F.col(id_col), "__pos", "__line", keep.alias("__keep")
    )
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("__pos"), F.col("__line"))
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.filter(
                            F.collect_list(kept_struct), lambda s: s.isNotNull()
                        )
                    ),
                    lambda s: s["__line"],
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        )
    )


def scrub_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Exact-substring deduplication in the style of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"):
    remove every token covered by a word k-gram that occurs >=
    ``min_count`` times corpus-wide. The reference implementation
    builds a suffix array over the concatenated corpus; a suffix array
    is inherently sequential to construct, so the distributed
    re-expression counts fixed-length k-gram occurrences instead —
    the same "duplicated span" signal, discretized to window k.

    ``keep_first=True`` is the CROSS-document boilerplate shape (r10):
    the corpus-wide FIRST occurrence of each duplicated k-gram — min
    (doc, pos), the dedup_lines_keepfirst winner rule lifted to spans
    — keeps its tokens, so exactly one copy of every repeated span
    survives the corpus instead of none. That is the Lee et al.
    training-data semantics: deduplicate the span, don't erase it.

    Returns (id_col, text, n_tokens, n_kept, n_dup_spans) where
    ``n_dup_spans`` counts the MAXIMAL contiguous removed runs per doc
    (overlapping duplicated k-grams stitch into one span before
    counting — 'how many boilerplate blocks did this doc carry', not
    'how many windows matched').

    Scale: per-doc k-gram hashes are a row-local codegen projection
    (no shuffle); the occurrence count is one hash aggregate on an
    8-byte key with map-side combine (keep_first adds a min-struct to
    the SAME aggregate — no extra shuffle); the join back carries only
    (doc, pos) pairs. The covered-token test is a row-local
    exists() over each doc's own duplicated-span starts — O(n_tokens
    x n_dup_spans) per doc worst case, bounded by document length,
    never by corpus size; the stitch count is one pass over the
    already-computed coverage flags."""
    # r11 optimization: rebalance a narrow input before the gram
    # projection — the per-doc k-gram hashing (split + k-window concat
    # + xxhash64 per position) and the count aggregate's map-side
    # combine are the operator's heaviest stage, and a single-row-group
    # parquet source would run them on ONE core (guide §2.5; no-op at
    # real scale). In-session A/B at sf0.1: keep_first leg 3.21 ->
    # 2.34 s median. Per-doc rows stay single rows through the
    # exchange, so every downstream value is unchanged (count keys,
    # min-struct winner, row-local coverage).
    docs = _spread_for_cpu(docs)
    # coalesce: null text would make size(__w) null and the downstream
    # sequence/zip_with chain null-poisoned (split itself never yields
    # an empty array, so null is the only exposure) — match the
    # null-tolerance of the other text stages
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
    base = docs.select(F.col(id_col), words.alias("__w"))
    n = F.size("__w")
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__w", i, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    exploded = base.select(
        F.col(id_col), F.posexplode(grams).alias("__pos", "__g")
    )
    # the gram occurrence count is a COUNT-ONLY hash aggregate in both
    # modes: folding keep_first's winner into the same aggregate as
    # min(struct(doc, pos)) would downgrade it to SortAggregate (a
    # struct buffer), i.e. two full sorts of the exploded gram stream.
    counts = exploded.groupBy("__g").agg(F.count(F.lit(1)).alias("__cnt"))
    dup_occ = exploded.join(
        counts.where(F.col("__cnt") >= min_count).select("__g"), on="__g"
    )
    if keep_first:
        # the global first (doc, pos) occurrence of each duplicated
        # gram is NOT a removal site — its tokens survive as the
        # canonical copy. The winner is a min(struct) WINDOW over the
        # dup-occurrence subset only: the join already clustered
        # dup_occ by gram, so the window costs one in-partition sort
        # of the duplicated occurrences — never a sort (or second
        # shuffle) of the full gram stream.
        w = Window.partitionBy("__g")
        first = F.min(F.struct(F.col(id_col), F.col("__pos"))).over(w)
        dup_occ = (
            dup_occ.withColumn("__first", first)
            .where(
                ~(
                    (F.col("__first")[id_col] == F.col(id_col))
                    & (F.col("__first")["__pos"] == F.col("__pos"))
                )
            )
            .drop("__first")
        )
    dup_starts = dup_occ.groupBy(id_col).agg(
        F.collect_set("__pos").alias("__dups")
    )
    marked = base.join(dup_starts, on=id_col, how="left").withColumn(
        "__dups", F.coalesce(F.col("__dups"), F.array().cast("array<int>"))
    )
    covered = lambda i: F.exists(
        "__dups", lambda p: (i >= p) & (i <= p + F.lit(k - 1))
    )
    # materialized per-token coverage flags: computed ONCE per token
    # (the exists() scan), then both the filter and the stitch count
    # read the array attribute (the _pair_arr_from O(n^2) lesson)
    cov = marked.select(
        F.col(id_col),
        "__w",
        F.transform(
            F.sequence(F.lit(0), F.size("__w") - 1), lambda i: covered(i)
        ).alias("__cov"),
    )
    kept = F.zip_with("__w", "__cov", lambda w, c: F.when(~c, w))
    kept = F.filter(kept, lambda w: w.isNotNull())
    # stitch-back: a removed run STARTS where cov flips false->true.
    # F.when guards the predecessor lookup — index 0 would be an
    # invalid element_at under ANSI (the _pair_arr_from rule)
    span_starts = F.filter(
        F.sequence(F.lit(0), F.size("__cov") - 1),
        lambda i: F.element_at("__cov", i + 1)
        & F.when(i > 0, ~F.element_at("__cov", i)).otherwise(F.lit(True)),
    )
    return cov.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("__w").alias("n_tokens"),
        F.size(kept).alias("n_kept"),
        F.size(span_starts).alias("n_dup_spans"),
    )


def minhash_dedup_incremental(
    new_docs: DataFrame,
    store_sigs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
    max_bucket_size: int = 512,
) -> tuple[DataFrame, DataFrame]:
    """Batch-over-batch MinHash dedup against a persisted signature
    store — the production ingestion shape: each arriving batch is
    checked against the historical corpus WITHOUT re-reading any
    historical text. Returns ``(pairs, updated_store)``:

    - ``pairs``: (id_a, id_b, est_jaccard) where id_a is always a new
      doc and id_b is either a store doc (cross matches, any id order)
      or another new doc (id_a < id_b). Store-vs-store pairs are never
      re-emitted — the store was deduped when it was built.
    - ``updated_store``: store ∪ new signatures, for the caller to
      persist (e.g. ``write_partitioned``) as the next batch's store.

    Ids must be unique across store and batch (caller's contract).

    Scale: the store side carries n_hashes longs per historical doc —
    at 100 TB of text the signature store is ~0.03% of corpus size and
    the per-batch cost is O(new x matching buckets), not O(corpus).
    Buckets are capped per side before the band join.

    Store compatibility: signatures are only comparable when produced
    by the same lane-derivation scheme. Persist ``SIGNATURE_SCHEME``
    next to the store and refit (re-sign the corpus) if it differs on
    load — mixing schemes silently zeroes est_jaccard for every
    store-vs-new pair and re-admits known duplicates."""
    if store_sigs is not None and not isinstance(store_sigs, DataFrame):
        raise TypeError(
            "store_sigs must be a signature DataFrame (id, sig) — e.g. "
            "spark.read.parquet(<store path>) — or None for the first "
            f"batch; got {type(store_sigs).__name__}"
        )
    new_sigs = minhash_signatures(
        new_docs, text_col, id_col, n_hashes, shingle_n, hash_fn
    )
    # consumed by both candidate sides and the updated store; run the
    # shingle sweeps once
    new_sigs = materialize(new_sigs)

    def banded(sigs):
        return band_rows(sigs, id_col, bands, hash_fn, with_sig=True)

    pairs = _store_pairs(
        banded(new_sigs),
        None if store_sigs is None else banded(store_sigs),
        ["band", "band_hash"],
        max_bucket_size,
        [id_col, "sig"],
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        _slot_agreement().alias("est_jaccard"),
    )
    updated = new_sigs if store_sigs is None else store_sigs.unionByName(new_sigs)
    return pairs.filter(F.col("est_jaccard") >= threshold).distinct(), updated


def exact_dedup_incremental(
    new_docs: DataFrame,
    store_hashes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple:
    """Batch-over-batch EXACT dedup against a persisted text-hash
    store — the cheapest incremental tier, run before the minhash one
    (minhash_dedup_incremental). Returns ``(kept_docs,
    updated_store)``: kept = new docs that are the min-id holder for
    their text within the batch AND whose md5 is absent from the
    store; updated_store = store ∪ kept hashes, for the caller to
    persist.

    Scale: the store carries 32 hex chars per historical distinct
    text (~0.01% of corpus size); per batch this is one within-batch
    hash aggregate + one anti-join on the hash key."""
    batch_keep = exact_dedup(new_docs, text_col, id_col).select(id_col)
    kept = new_docs.join(batch_keep, on=id_col, how="left_semi").withColumn(
        "__h", F.md5(F.col(text_col))
    )
    if store_hashes is not None:
        kept = kept.join(
            store_hashes.select(F.col("h").alias("__h")),
            on="__h",
            how="left_anti",
        )
    new_hashes = kept.select(F.col("__h").alias("h"))
    store = (
        new_hashes
        if store_hashes is None
        else store_hashes.unionByName(new_hashes).distinct()
    )
    return kept.drop("__h"), store
