"""Seeded benchmark inputs: an hourly panel and a text corpus.

Both are pure functions of their arguments, so the same seed always
gives the same rows. The panel is generated inside Spark from hashes of
(seed, tag, key), which scales to millions of rows without passing
through Python; the corpus is small and built in Python, where the
planted duplicate groups are known exactly for the output checks.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 2024-01-01T00:00:00Z
PANEL_START = 1704067200
SEASON = 24  # hourly data with a daily cycle
_U52 = float(1 << 52)


def _uniform(seed: int, tag: str, key) -> F.Column:
    """Deterministic uniform [0, 1) from xxhash64(seed, tag, key)."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), key)
    return h.bitwiseAND(F.lit((1 << 52) - 1)).cast("double") / F.lit(_U52)


def panel(spark: SparkSession, seed: int, n_entities: int, n_times: int) -> DataFrame:
    """(entity string, time timestamp, value double) panel.

    value = level + slope * t + amp * sin(2 pi t / 24 + phase) + noise,
    with per-entity level/slope/amp/phase and per-row noise hashed from
    the seed. Values stay positive, so sum-ratio SMAPE is well defined.
    """
    e = F.floor(F.col("id") / n_times)
    t = F.col("id") % n_times
    level = F.lit(100.0) + F.lit(100.0) * _uniform(seed, "level", e)
    slope = (_uniform(seed, "slope", e) - F.lit(0.5)) * F.lit(0.1)
    amp = F.lit(5.0) + F.lit(15.0) * _uniform(seed, "amp", e)
    phase = F.lit(2 * math.pi) * _uniform(seed, "phase", e)
    noise = (_uniform(seed, "noise", F.col("id")) - F.lit(0.5)) * F.lit(4.0)
    value = level + slope * t + amp * F.sin(F.lit(2 * math.pi / SEASON) * t + phase) + noise
    return spark.range(n_entities * n_times).select(
        F.format_string("e%06d", e.cast("int")).alias("entity"),
        F.timestamp_seconds(F.lit(PANEL_START) + t * F.lit(3600)).alias("time"),
        value.alias("value"),
    )


@dataclass(frozen=True)
class Corpus:
    """Documents plus the planted duplicate structure: ``group[i]`` is
    the base document doc i was copied from (itself for a base)."""

    docs: list  # (doc_id, text)
    group: dict


def corpus(
    seed: int,
    n_base: int,
    n_exact: int,
    n_near: int,
    words_per_doc: int = 60,
    vocab_size: int = 3000,
    edits: int = 2,
) -> Corpus:
    """Random-word documents with planted exact and near duplicates.

    A near duplicate replaces ``edits`` words of its base with other
    words, which keeps the word 3-shingle Jaccard near 0.8; unrelated
    documents share almost no shingles. Ids are shuffled so duplicates
    are not adjacent to their bases."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(vocab_size)]
    bases = [[rng.choice(vocab) for _ in range(words_per_doc)] for _ in range(n_base)]
    texts = [" ".join(w) for w in bases]
    src = list(range(n_base))
    for _ in range(n_exact):
        b = rng.randrange(n_base)
        texts.append(texts[b])
        src.append(b)
    for _ in range(n_near):
        b = rng.randrange(n_base)
        words = list(bases[b])
        for pos in rng.sample(range(words_per_doc), edits):
            w = rng.choice(vocab)
            while w == words[pos]:
                w = rng.choice(vocab)
            words[pos] = w
        texts.append(" ".join(words))
        src.append(b)
    order = list(range(len(texts)))
    rng.shuffle(order)
    # doc id of the k-th generated text is its position in the shuffle
    doc_id = {k: i for i, k in enumerate(order)}
    docs = [(doc_id[k], texts[k]) for k in order]
    group = {doc_id[k]: doc_id[src[k]] for k in range(len(texts))}
    return Corpus(docs=docs, group=group)


def corpus_frame(spark: SparkSession, c: Corpus, n_partitions: int) -> DataFrame:
    return spark.createDataFrame(c.docs, "doc_id long, text string").repartition(
        n_partitions
    )


def pin(df: DataFrame) -> DataFrame:
    """Compute ``df`` once, keep its rows, and count them.

    A local checkpoint rather than ``persist``: it leaves the cache
    manager empty, so the benchmark can clear every frame a pass cached
    without dropping its inputs."""
    df = df.localCheckpoint(eager=True)
    df.count()
    return df


def content_hash(df: DataFrame) -> int:
    """Order-independent hash of every row's content."""
    return df.select(F.sum(F.xxhash64(*df.columns)).alias("h")).first()["h"]
