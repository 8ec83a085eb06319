"""Pipeline operators: dedup, similarity, text analysis, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F
import os

# plan pins that encode CLASSIC-session lineage shapes (localCheckpoint
# cuts read zero source files); the Connect table fallback re-enters
# each materialized frame as a parquet scan, so these counts
# legitimately differ there (equivalence is pinned separately).
requires_local_checkpoint = pytest.mark.skipif(
    os.environ.get("FUNCTIME_SPARK_NO_LOCAL_CHECKPOINT", "") == "1",
    reason="plan pin valid only for localCheckpoint lineage shapes",
)


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from functime_spark.sources.tables import load_table

    return load_table(spark, SF, "documents").persist()


@pytest.fixture(scope="module")
def emb(spark):
    from functime_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings").persist()


def test_exact_dedup_finds_planted_dup(spark):
    from functime_spark.pipeline.dedup import exact_dedup

    d = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["n_copies"] for r in exact_dedup(d).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_detects_near_dup(spark):
    from functime_spark.pipeline.dedup import minhash_dedup

    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zzz"
    far = " ".join(f"q{i}" for i in range(60))
    d = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_dedup(d, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_ngram_jaccard_exact(spark):
    from functime_spark.pipeline.dedup import ngram_jaccard_pairs

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(d, threshold=0.1).collect()}
    # doc1 grams: {abc, bcd, cde}; doc2: {abc, bcd, cdx}; shared 2 of 4
    assert pairs == {(1, 2): pytest.approx(0.5)}


def test_lsh_bucket_cap_bounds_skew(spark):
    """A 10k-copy document (the pathological hot bucket) must not go
    quadratic: with the bucket-size cap its buckets are dropped, the
    candidate count stays bounded, and genuine near-dup pairs among
    the distinct docs are still found. Exact duplicates remain
    exact_dedup's job (linear hash-aggregate)."""
    from functime_spark.pipeline.dedup import (
        exact_dedup,
        minhash_dedup,
        simhash_near_dups,
    )

    boiler = " ".join(f"tpl{i % 7}" for i in range(40))
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zzz"
    rows = [(i, boiler) for i in range(10_000)]
    rows += [(10_000, base), (10_001, near)]
    rows += [(10_002 + j, " ".join(f"u{j}_{i}" for i in range(40))) for j in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_dedup(d, threshold=0.5).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (10_000, 10_001) in keys
    # bounded: no quadratic blowup from the 10k-copy bucket
    assert len(pairs) < 1_000

    sh = simhash_near_dups(d.filter(F.col("doc_id") >= 9_990), max_hamming=2)
    assert sh.count() < 1_000

    ex = {r["doc_id"]: r["n_copies"] for r in exact_dedup(d).collect()}
    assert ex[0] == 10_000  # the crowd is still caught, linearly


def test_simhash_identical_distance_zero(spark):
    from functime_spark.pipeline.dedup import simhash_near_dups

    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww")],
        "doc_id long, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(d, max_hamming=2).collect()}
    assert out.get((1, 2)) == 0
    assert (1, 3) not in out


def test_cosine_topk_matches_numpy(emb):
    from functime_spark.pipeline.similarity import cosine_topk

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in rows}
    q = vecs[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != 0
    }
    want = [vid for vid, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
    got = [
        r["vec_id"]
        for r in cosine_topk(emb.filter("vec_id != 0"), list(q), 5).collect()
    ]
    assert got == want


def test_ivf_recall(emb):
    from functime_spark.pipeline.similarity import IVFIndex, cosine_topk

    q = list(emb.filter("vec_id = 0").first()["embedding"])
    exact = {r["vec_id"] for r in cosine_topk(emb.filter("vec_id != 0"), q, 5).collect()}
    ivf = IVFIndex(n_cells=4).fit(emb)
    assigned = ivf.assign(emb.filter("vec_id != 0"))
    approx = {r["vec_id"] for r in ivf.search(assigned, q, 5, n_probe=2).collect()}
    assert len(exact & approx) >= 3  # probe half the cells → high recall


def test_ann_recall_metric(emb):
    """ann_recall: exact-vs-itself is 1.0, and a full-probe IVF search
    (n_probe = n_cells scans everything) must also reach recall 1.0 —
    the two identities that pin the metric's semantics."""
    from functime_spark.pipeline.similarity import IVFIndex, ann_recall, cosine_topk

    corpus = emb.filter("vec_id != 0")
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    exact = cosine_topk(corpus, q, 5)
    self_row = ann_recall(exact, exact).first()
    assert self_row["n_exact"] == 5 and self_row["recall"] == 1.0

    ivf = IVFIndex(n_cells=4).fit(emb)
    full_probe = ivf.search(ivf.assign(corpus), q, 5, n_probe=4)
    row = ann_recall(full_probe, exact).first()
    assert row["n_overlap"] == 5 and row["recall"] == 1.0


def test_language_id_and_quality(spark):
    from functime_spark.pipeline.text import language_id, quality_scores

    d = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a test of the system"),
            (2, "der hund und die katze ist ein tier von der stadt"),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["pred_lang"] for r in language_id(d).collect()}
    assert langs == {1: "en", 2: "de"}
    q = {r["doc_id"]: r for r in quality_scores(d).collect()}
    assert q[1]["n_words"] == 14
    assert q[1]["stopword_ratio"] > 0.3


def test_token_counts(spark):
    from functime_spark.pipeline.text import token_counts

    d = spark.createDataFrame([(1, "hello world, extraordinary!")], "doc_id long, text string")
    r = token_counts(d).first()
    assert r["n_whitespace_tokens"] == 3
    # hello(2) + world,(2) + extraordinary!(4) chunks of <=4 chars
    assert r["n_subword_est"] >= 7
    assert r["n_punct_split_tokens"] >= 5  # punctuation split out


def test_fingerprint_stability(docs):
    from functime_spark.pipeline.text import fingerprint

    a = fingerprint(docs).orderBy("doc_id").collect()
    b = fingerprint(docs).orderBy("doc_id").collect()
    assert a == b


def test_media_plumbing(spark, docs):
    from functime_spark.pipeline.multimodal import (
        attach_payload,
        extract_features_media,
    )

    media = attach_payload(docs, "doc_id", "text")
    feats = extract_features_media(media, dim=8)
    rows = feats.limit(3).collect()
    assert all(len(r["feature"]) == 8 for r in rows)
    # deterministic: same payload → same features
    again = extract_features_media(media, dim=8).limit(3).collect()
    assert [r["feature"] for r in rows] == [r["feature"] for r in again]
    with pytest.raises(NotImplementedError):
        extract_features_media(media, decoder="pil")


def test_udf_features_sanity(events):
    from functime_spark.functions.features_udf import extract_features_udf

    out = {r["user_id"]: r for r in extract_features_udf(events).collect()}
    for uid, r in out.items():
        assert r["approximate_entropy"] >= 0
        assert np.isfinite(r["sample_entropy"])
        assert 0 < r["lempel_ziv_complexity"] <= 1
        assert len(r["autoregressive_coefficients"]) == 5
        assert len(r["friedrich_coefficients"]) == 4
        assert r["fourier_entropy"] > 0


def test_sample_entropy_known_value(spark):
    """Regular alternating series has low sample entropy; random has
    higher — and the exact value matches a hand-rolled numpy check."""
    from functime_spark.functions.features_udf import sample_entropy

    rng = np.random.default_rng(1)
    x = rng.standard_normal(200)
    got = sample_entropy(x)
    # independent implementation: count template matches
    m, r = 2, 0.2 * x.std()

    def count(mm):
        mat = np.lib.stride_tricks.sliding_window_view(x, mm)
        d = np.abs(mat[:, None, :] - mat[None, :, :]).max(axis=2)
        return (d <= r).sum() - mat.shape[0]

    want = np.log(count(m) / count(m + 1))
    assert got == pytest.approx(float(want), rel=1e-9)


def test_cusum_detects_level_shift(spark):
    from functime_spark.functions.features_udf import cusum

    vals = [0.0] * 50 + [10.0] * 10
    rows = [("a", i, v + 0.01 * (i % 3)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "entity string, time long, value double")
    out = cusum(df, threshold=4.0, warmup_period=20).orderBy("time").collect()
    events = [r["event"] for r in out]
    assert sum(events[:50]) == 0
    assert sum(events[50:]) >= 1


def test_llm_analyze_prompt_assembly(events):
    """Offline: the prompt is assembled from a distributed pivot;
    a stub client receives it."""
    from functime_spark.pipeline.llm import analyze, compare

    received = {}

    def stub(prompt):
        received["p"] = prompt
        return "ok"

    out = analyze(events, basket=[0, 1], context="unit test", client=stub)
    assert out == "ok"
    assert "unit test" in received["p"]
    assert "Analyze" in received["p"]

    p = compare(events, basket=[0], other_basket=[1], _return_prompt=True)
    assert "Basket A" in p and "Basket B" in p

    import pytest as _pytest

    with _pytest.raises(ValueError):
        analyze(events, basket=[99999], _return_prompt=True)


def test_plotting_prepare_layers(events, spark):
    """prepare_* run distributed sampling/joins and return bounded
    pandas slices; plot_* needs plotly (absent here)."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from functime_spark import plotting

    pdf = plotting.prepare_entities(events, n_series=3)
    assert pdf["user_id"].nunique() == 3

    w = Window.partitionBy("user_id").orderBy("ts")
    y_pred = events.select(
        "user_id", "ts", F.lag("value").over(w).alias("value")
    ).na.drop()
    fc = plotting.prepare_forecasts(events, y_pred, n_series=2)
    assert set(fc["__kind"]) == {"actual", "forecast"}

    fva = plotting.prepare_fva(events, y_pred, y_pred)
    assert (fva["fva"].abs() < 1e-12).all()  # model == bench -> fva 0

    with _pytest.raises(ImportError):
        plotting.plot_entities(events)


def test_plotting_panel_and_backtests(events, spark):
    """prepare_panel tail-trims per entity; prepare_backtests stacks
    actuals (split -1) with per-split predictions."""
    from functime_spark import backtest, plotting
    from functime_spark.forecasting.naive import naive

    pdf = plotting.prepare_panel(events, n_series=3, n_points=5)
    assert pdf["user_id"].nunique() == 3
    assert (pdf.groupby("user_id").size() == 5).all()
    # tail semantics: each entity's slice is its most recent points
    full = plotting.prepare_panel(events, n_series=3)
    for uid, grp in full.groupby("user_id"):
        want = grp.sort_values("ts")["ts"].iloc[-5:].tolist()
        got = sorted(pdf[pdf["user_id"] == uid]["ts"])
        assert got == want

    bt = backtest(naive(freq="1h"), events, test_size=4, n_splits=2, step_size=4)
    pb = plotting.prepare_backtests(events, bt, n_series=2)
    assert set(pb["__split"]) == {-1, 0, 1}
    assert pb["user_id"].nunique() == 2


def test_freq_to_sp():
    import pytest as _pytest

    from functime_spark.operators.seasonality import freq_to_sp

    assert freq_to_sp("1d") == [7, 365]
    assert freq_to_sp("1h") == [24, 168, 8_766]
    assert freq_to_sp("3mo") == [4]
    with _pytest.raises(ValueError):
        freq_to_sp("2d")


def test_conversion_numpy_matrix(spark):
    import numpy as np

    from functime_spark.operators.conversion import X_to_numpy, y_to_numpy

    df = spark.createDataFrame(
        [("a", 1, 1.0, float("nan")), ("a", 2, float("inf"), 4.0), ("b", 1, 3.0, 6.0)],
        "e string, t long, f1 double, f2 double",
    )
    X = X_to_numpy(df)
    assert X.dtype == np.float32 and X.shape == (3, 2)
    np.testing.assert_allclose(X[:, 0], [1.0, 2.0, 3.0])  # inf -> mean(1,3)=2
    np.testing.assert_allclose(X[:, 1], [5.0, 4.0, 6.0])  # nan -> mean(4,6)=5
    y = y_to_numpy(df.select("e", "t", "f2"))
    np.testing.assert_allclose(y, [5.0, 4.0, 6.0])


def test_embedding_lsh_bucket_cap_bounds_skew(spark):
    """10k identical vectors all land in ONE hyperplane bucket — without
    the cap that is ~5*10^7 verify pairs. The capped path drops the hot
    bucket (bounded output, fast) while still pairing the distinct
    near-dup vectors planted outside it."""
    import random

    from functime_spark.pipeline.dedup import embedding_near_dups

    random.seed(7)
    hot = [1.0, 2.0, 3.0, 4.0]
    rows = [(i, hot) for i in range(10_000)]
    # two near-identical distinct vectors, far from `hot`'s bucket side
    a = [-1.0, 5.0, -2.0, 0.5]
    b = [-1.01, 5.02, -1.98, 0.5]
    rows += [(10_000, a), (10_001, b)]
    rows += [
        (10_002 + j, [random.uniform(-1, 1) for _ in range(4)]) for j in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dups(emb, threshold=0.99).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (10_000, 10_001) in keys
    assert len(pairs) < 1_000


def test_ivf_assign_scales_to_many_cells(emb):
    """The cell assignment must stay a broadcast-join + array argmin:
    at n_cells=256 the old literal when-chain took unbounded plan-build
    time and produced a 256-branch expression tree. Pin: plan builds
    fast and contains no per-centroid CASE WHEN cascade."""
    import time

    import numpy as np

    from functime_spark.pipeline.similarity import IVFIndex
    from functime_spark.plans import explain_str

    dim = len(emb.first()["embedding"])
    ivf = IVFIndex(n_cells=256)
    rng = np.random.default_rng(0)
    ivf.centroids = rng.standard_normal((256, dim))
    t0 = time.monotonic()
    assigned = ivf.assign(emb)
    build_s = time.monotonic() - t0
    # generous bound: the when-chain regression took minutes; a tight
    # 1.0s bound flaked under concurrent-suite CPU contention
    assert build_s < 10.0, f"assign() plan build took {build_s:.2f}s"
    plan = explain_str(assigned, "simple")
    assert plan.count("CASE WHEN") < 10
    # correctness at many cells: argmin matches numpy on a sample
    rows = assigned.limit(20).collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype="float64")
        want = int(((ivf.centroids - v) ** 2).sum(axis=1).argmin())
        assert r["__cell"] == want


def test_ivf_written_index_prunes_partitions(emb, spark, tmp_path):
    """A stored IVF index is a hive tree partitioned by __cell; a probe
    must reach the scan as a PartitionFilter (only n_probe/n_cells of
    the files open) and return the same rows as the in-memory path."""
    from functime_spark.pipeline.similarity import IVFIndex
    from functime_spark.plans import explain_str

    ivf = IVFIndex(n_cells=4, init="spread").fit(emb)
    assigned = ivf.assign(emb.filter("vec_id != 0"))
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    want = [(r["vec_id"], round(r["cosine"], 9)) for r in
            ivf.search(assigned, q, 5, n_probe=2).collect()]

    path = str(tmp_path / "ivf_index")
    ivf.write_index(assigned, path)
    loaded = IVFIndex.load_index(spark, path)
    res = ivf.search(loaded, q, 5, n_probe=2)
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in res.collect()]
    assert got == want

    plan = explain_str(res, "formatted")
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "__cell" in pf and pf.strip() != ""


def test_fake_decode_is_hash_replayable():
    """The stub decoder's components are the documented sha256 chain
    and exactly representable in float32 (what lets the gate replay
    them byte-for-byte in DuckDB SQL)."""
    import hashlib

    import numpy as np

    from functime_spark.pipeline.multimodal import _fake_decode

    payload = "hello world".encode()
    vec = _fake_decode(payload, 8)
    base = hashlib.sha256(payload).hexdigest()
    for j, v in enumerate(vec):
        hj = hashlib.sha256(f"{base}-{j}".encode()).hexdigest()
        expected = int(hj[:6], 16) / 8388608.0 - 1.0
        assert float(v) == expected  # float32 -> double widening is exact
        assert -1.0 <= v < 1.0


def test_connected_components_shapes(spark):
    """Path, star, and separate pairs: component = min reachable id;
    a 200-node chain converges within the O(log^2 n) iteration cap."""
    from functime_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (21, 20), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    cc = connected_components(chain)
    assert cc.count() == 201
    assert [r["component"] for r in cc.select("component").distinct().collect()] == [0]


def test_dedup_keep_canonical(spark):
    from functime_spark.pipeline.dedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 7, 8, 99]], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    assert kept == [1, 7, 99]


@requires_local_checkpoint
def test_connected_components_zero_source_scans(spark, docs):
    """The component map's plan reads only localCheckpoint blocks — at
    100 TB the iterative star rounds must not re-derive the pair graph
    from the corpus each round."""
    from functime_spark.pipeline.dedup import connected_components, minhash_dedup
    from functime_spark.plans.checks import count_file_scans

    pairs = minhash_dedup(docs, threshold=0.3, hash_fn="md5")
    cc = connected_components(pairs)
    assert count_file_scans(cc) == 0


def test_gopher_quality_filter_rules(spark):
    """Hand-built docs: one passing all Gopher rules, one failing on
    specific signals (repetition, symbols, stopwords)."""
    from functime_spark.pipeline.text import gopher_quality_filter

    good = " ".join(
        "the be to of and that have with quick brown fox jumps over lazy dog".split()
        * 5
    )  # 80 words, all alpha, all 8 stopwords, no symbols
    dup_lines = "\n".join(["same line of text here"] * 10)  # pure repetition
    hashy = "the " + "# " * 60  # symbol_to_word >> 0.1, one stopword
    docs = spark.createDataFrame(
        [(1, good), (2, dup_lines), (3, hashy)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in gopher_quality_filter(docs).collect()}
    assert out[1]["passes"] is True
    assert out[1]["stopword_hits"] == 8
    assert out[1]["dup_line_frac"] == 0.0

    assert out[2]["passes"] is False
    assert out[2]["dup_line_frac"] == 0.9  # 9 of 10 lines are repeats
    assert out[2]["dup_line_char_frac"] == 0.9

    assert out[3]["passes"] is False
    assert out[3]["symbol_to_word"] > 0.1
    assert out[3]["stopword_hits"] < 2


def test_pq_codebook_recall_and_compression(spark):
    """ADC top-5 lands inside the exact-L2 top-20; codes are
    deterministic across encodes and 8 small ints per 64-dim vector."""
    import numpy as np

    from functime_spark.pipeline.similarity import PQCodebook
    from functime_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pq = PQCodebook(n_subspaces=8, ksub=16, n_iter=5, init="spread").fit(emb)
    assert pq.codebooks.shape == (8, 16, 8)
    qvec = emb.filter("vec_id = 0").first()["embedding"]
    enc = pq.encode(emb.filter("vec_id != 0"))
    codes = enc.select("vec_id", "__codes").limit(5).collect()
    assert all(len(r["__codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["__codes"])
    again = pq.encode(emb.filter("vec_id != 0")).select("vec_id", "__codes").limit(5).collect()
    assert codes == again

    # synthetic random embeddings are near-worst-case for PQ (no
    # cluster structure), so assert calibration, not sharp recall:
    # ADC distance tracks true distance corpus-wide and the ADC top-5
    # sits in the true top-30%.
    adc = {r["vec_id"]: r["adc_d2"] for r in pq.adc_search(enc, list(qvec), k=499).collect()}
    X = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in emb.collect()
        if r["vec_id"] != 0
    }
    q = np.asarray(qvec, dtype=float)
    true = {i: float(((X[i] - q) ** 2).sum()) for i in X}
    ids = sorted(X)
    corr = np.corrcoef([adc[i] for i in ids], [true[i] for i in ids])[0, 1]
    assert corr > 0.5
    exact_rank = {v: r for r, v in enumerate(sorted(X, key=lambda i: true[i]))}
    top5 = sorted(adc, key=lambda i: adc[i])[:5]
    assert all(exact_rank[v] < len(X) * 0.3 for v in top5)


def test_ivf_pq_search_end_to_end(spark):
    """Combined IVF_PQ query: probe -> ADC shortlist -> exact refine.
    With a wide probe and refine factor the result converges to the
    exact top-k restricted to the probed cells."""
    from functime_spark.pipeline.similarity import (
        IVFIndex,
        PQCodebook,
        cosine_topk,
        ivf_pq_search,
    )
    from functime_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    ivf = IVFIndex(n_cells=4, init="spread").fit(emb)
    pq = PQCodebook(n_subspaces=8, ksub=16, init="spread").fit(emb)
    enc = pq.encode(ivf.assign(emb.filter("vec_id != 0")))
    # probe EVERY cell with a huge refine factor -> exact result
    got = [
        r["vec_id"]
        for r in ivf_pq_search(ivf, pq, enc, q, k=5, n_probe=4, refine=100).collect()
    ]
    exact = [
        r["vec_id"] for r in cosine_topk(emb.filter("vec_id != 0"), q, 5).collect()
    ]
    assert got == exact
    # narrow probe still returns k rows with decent overlap
    narrow = ivf_pq_search(ivf, pq, enc, q, k=5, n_probe=2, refine=4).collect()
    assert len(narrow) == 5


def test_pii_scan_counts_and_redaction(spark):
    from functime_spark.pipeline.text import pii_scan

    d = spark.createDataFrame(
        [
            (1, "reach a.b@x.io and c_d@y.co.uk, call 555-123-4567"),
            (2, "host 192.168.1.10 and 10.0.0.1; ssn 123-45-6789"),
            (3, "nothing sensitive here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scan(d, redact=True).collect()}
    assert out[1]["n_email"] == 2
    assert out[1]["n_phone"] == 1
    assert out[1]["has_pii"] == 1
    assert "<EMAIL>" in out[1]["redacted"] and "<PHONE>" in out[1]["redacted"]
    assert "@" not in out[1]["redacted"]
    assert out[2]["n_ipv4"] == 2
    assert out[2]["n_ssn"] == 1
    assert "<IPV4>" in out[2]["redacted"] and "<SSN>" in out[2]["redacted"]
    assert out[3]["has_pii"] == 0
    assert out[3]["redacted"] == "nothing sensitive here at all"


def test_ngram_repetition_known_values(spark):
    from functime_spark.pipeline.text import ngram_repetition

    # "a b a b a b": 2-gram "a b" occurs 3x, len 3 -> 9/11 of chars;
    # 5-grams are all unique -> dup 0; doc 2 repeats a 5-gram
    rep5 = "one two three four five one two three four five"
    d = spark.createDataFrame(
        [(1, "a b a b a b"), (2, rep5), (3, "xy")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in ngram_repetition(d, top_ns=(2,), dup_ns=(5,)).collect()
    }
    assert abs(out[1]["top_2gram_char_frac"] - 9 / 11) < 1e-12
    assert out[1]["dup_5gram_char_frac"] == 0.0
    # doc 2: 6 5-grams, one ("one two three four five") duplicated
    assert out[2]["dup_5gram_char_frac"] > 0.3
    # doc 3 has 1 token: no grams at all -> null signals, row kept
    assert out[3]["top_2gram_char_frac"] is None
    assert out[3]["dup_5gram_char_frac"] is None


def test_url_stats_domains_and_blocklist(spark):
    from functime_spark.pipeline.text import url_stats

    d = spark.createDataFrame(
        [
            (1, "see https://a.org/x http://a.org/y and https://spam.example/z"),
            (2, "no links"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in url_stats(d).collect()}
    assert out[1]["n_urls"] == 3
    assert out[1]["n_domains"] == 2
    assert out[1]["first_domain"] == "a.org"
    assert out[1]["has_blocked_domain"] == 1
    assert out[2]["n_urls"] == 0
    assert out[2]["first_domain"] is None
    assert out[2]["has_blocked_domain"] == 0


def test_sq8_recall_and_determinism(spark, emb):
    """SQ8 top-5 equals exact cosine top-5 on the fixture corpus;
    codes are uint8-range and stable across encodes."""
    from functime_spark.pipeline.similarity import SQ8Index, cosine_topk

    corpus = emb.filter(F.col("vec_id") != 0)
    qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    sq = SQ8Index().fit(corpus)
    enc = sq.encode(corpus)
    got = [r["vec_id"] for r in sq.search(enc, qvec, k=5).collect()]
    exact = [r["vec_id"] for r in cosine_topk(corpus, qvec, k=5).collect()]
    assert got == exact

    codes1 = enc.select("vec_id", "__codes").orderBy("vec_id").limit(5).collect()
    codes2 = (
        sq.encode(corpus).select("vec_id", "__codes").orderBy("vec_id").limit(5).collect()
    )
    assert [r["__codes"] for r in codes1] == [r["__codes"] for r in codes2]
    for r in codes1:
        assert all(0 <= c <= 255 for c in r["__codes"])


def test_sq8_constant_dim_codes_zero(spark):
    from functime_spark.pipeline.similarity import SQ8Index

    d = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0]), (3, [1.0, 9.0])],
        "vec_id long, embedding array<float>",
    )
    sq = SQ8Index().fit(d)
    codes = {r["vec_id"]: r["__codes"] for r in sq.encode(d).collect()}
    # dim 0 is constant -> scale 0 -> code 0 everywhere
    assert all(c[0] == 0 for c in codes.values())
    assert codes[1][1] == 0 and codes[3][1] == 255


def test_ivf_sq8_search_end_to_end(spark, emb):
    """IVF probe -> SQ8 shortlist -> exact refine returns k rows and
    full-probe results match brute-force cosine top-k."""
    from functime_spark.pipeline.similarity import (
        IVFIndex,
        SQ8Index,
        cosine_topk,
        ivf_sq8_search,
    )

    corpus = emb.filter(F.col("vec_id") != 0)
    qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    ivf = IVFIndex(n_cells=8, n_iter=3).fit(corpus)
    sq = SQ8Index().fit(corpus)
    enc = sq.encode(ivf.assign(corpus))
    full = ivf_sq8_search(ivf, sq, enc, qvec, k=5, n_probe=8).collect()
    exact = cosine_topk(corpus, qvec, k=5).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]
    narrow = ivf_sq8_search(ivf, sq, enc, qvec, k=5, n_probe=2).collect()
    assert len(narrow) == 5


def test_stratified_sample_deterministic_and_proportional(spark, docs):
    from functime_spark.pipeline.sampling import stratified_sample

    fr = {"en": 0.5, "de": 1.0}
    a = sorted(
        r["doc_id"] for r in stratified_sample(docs, fr).select("doc_id").collect()
    )
    # repartitioning must not change the sample (rand()-based would)
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(docs.repartition(7), fr).select("doc_id").collect()
    )
    assert a == b and len(a) > 0
    n_en = docs.filter(F.col("lang") == "en").count()
    got_en = (
        stratified_sample(docs, fr).filter(F.col("lang") == "en").count()
    )
    assert abs(got_en / n_en - 0.5) < 0.25  # small corpus, loose bound
    # fraction 1.0 keeps every row of the stratum
    n_de = docs.filter(F.col("lang") == "de").count()
    assert stratified_sample(docs, fr).filter(F.col("lang") == "de").count() == n_de
    # unlisted strata are dropped
    assert (
        stratified_sample(docs, fr).filter(~F.col("lang").isin("en", "de")).count()
        == 0
    )


def test_stratified_sample_is_pure_filter(spark, docs):
    from functime_spark.pipeline.sampling import stratified_sample
    from functime_spark.plans import assert_max_exchanges, python_eval_nodes

    out = stratified_sample(docs, {"en": 0.3})
    assert_max_exchanges(out, 0)
    assert python_eval_nodes(out) == []


def test_corpus_stats_totals(spark, docs):
    from functime_spark.pipeline.sampling import corpus_stats

    out = corpus_stats(docs)
    total = out.agg(F.sum("n_docs")).first()[0]
    assert total == docs.count()
    row = out.filter((F.col("lang") == "en")).first()
    assert row["total_chars"] > 0 and row["mean_chars"] > 0


def test_doc_classifier_learns_separable_signal(spark):
    """On a cleanly separated design the classifier reaches ~perfect
    accuracy, and refitting is bit-deterministic (zero init + exact
    Newton steps)."""
    import numpy as np

    from functime_spark.pipeline.classifier import (
        fit_doc_classifier,
        score_doc_classifier,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(200):
        lab = i % 2
        f1 = rng.normal(3.0 + 2.0 * lab, 0.4)
        f2 = rng.normal(0.2 + 0.3 * lab, 0.05)
        rows.append((i, float(lab), float(f1), float(f2)))
    d = spark.createDataFrame(
        rows, "doc_id long, label double, f1 double, f2 double"
    ).persist()
    coef, b = fit_doc_classifier(d, ["f1", "f2"], "label", n_iter=8)
    coef2, b2 = fit_doc_classifier(d, ["f1", "f2"], "label", n_iter=8)
    assert list(coef) == list(coef2) and b == b2
    out = score_doc_classifier(d, ["f1", "f2"], coef, b)
    joined = out.join(d.select("doc_id", "label"), "doc_id")
    acc = joined.filter(F.col("pred") == F.col("label")).count() / 200
    assert acc > 0.95
    d.unpersist()


def test_ngram_overlap_flags_benchmark_hits(spark):
    from functime_spark.pipeline.decontaminate import decontaminate, ngram_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # contains the benchmark 4-gram "quick brown fox jumps"
            (1, "a quick brown fox jumps here and there today"),
            # clean doc, same vocabulary but no shared 4-gram
            (2, "fox brown quick jumps dog lazy the over now"),
            # shorter than n words -> zero grams, never flagged
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in ngram_overlap(docs, bench, n=4, hash_fn="none").collect()
    }
    assert out[1]["is_contaminated"] == 1 and out[1]["n_contaminated"] == 1
    assert out[1]["n_grams"] == 6
    assert out[2]["is_contaminated"] == 0 and out[2]["n_contaminated"] == 0
    assert out[3]["n_grams"] == 0 and out[3]["is_contaminated"] == 0
    kept = {r["doc_id"] for r in decontaminate(docs, bench, n=4).collect()}
    assert kept == {2, 3}


def test_ngram_overlap_hash_variants_agree(docs, spark):
    from functime_spark.pipeline.decontaminate import ngram_overlap

    bench = docs.filter(F.col("doc_id") % 13 == 0)
    a = ngram_overlap(docs, bench, n=6, hash_fn="none").orderBy("doc_id").collect()
    b = ngram_overlap(docs, bench, n=6, hash_fn="xxhash64").orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_ngram_lm_score_matches_hand_computation(spark):
    import math

    from functime_spark.pipeline.lm import ngram_lm_score

    d = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in ngram_lm_score(d, alpha=0.5, lam=0.5).collect()}
    # corpus: uni a:3 b:3, N=6 V=2; bi: (a,b):3 (b,a):1
    pu_a = (3 + 0.5) / (6 + 0.5 * 2)
    pu_b = pu_a
    lp1 = (
        math.log(pu_a)
        + math.log(0.5 * 3 / 3 + 0.5 * pu_b)
        + math.log(0.5 * 1 / 3 + 0.5 * pu_a)
        + math.log(0.5 * 3 / 3 + 0.5 * pu_b)
    )
    assert out[1]["n_tokens"] == 4
    assert out[1]["cross_entropy"] == pytest.approx(-lp1 / 4, abs=1e-12)
    assert out[1]["perplexity"] == pytest.approx(math.exp(-lp1 / 4), rel=1e-12)


def test_ngram_lm_scores_held_out_with_oov(spark):
    from functime_spark.pipeline.lm import fit_ngram_lm, ngram_lm_score

    train = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    lm = fit_ngram_lm(train)
    held = spark.createDataFrame(
        [(10, "a b a b"), (11, "zz qq zz")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in ngram_lm_score(held, lm=lm).collect()}
    # in-distribution text must beat all-OOV text, and OOV must be finite
    assert out[10]["cross_entropy"] < out[11]["cross_entropy"]
    assert out[11]["perplexity"] == pytest.approx(out[11]["perplexity"])  # finite


def test_semantic_dedup_finds_planted_near_dup(spark):
    import numpy as np

    from functime_spark.pipeline.dedup import semantic_dedup, semantic_dedup_pairs

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16))
    # vec 100 is a tiny perturbation of vec 0 -> cosine ~ 1
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    rows.append((100, [float(x) for x in base[0] + 1e-3 * rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(emb, n_clusters=4, threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 100)}
    kept = {r["vec_id"] for r in semantic_dedup(emb, n_clusters=4, threshold=0.99).collect()}
    assert 100 not in kept and 0 in kept and len(kept) == 40


def test_tfidf_topk_similar_ranks_shared_rare_terms(spark):
    from functime_spark.pipeline.similarity import tfidf_topk_similar

    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "alpha zeta eta theta"),
            (4, "iota kappa lambda mu"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk_similar(d, k=2, max_df_frac=0.9).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["sim_id"], r["cosine"]))
    # docs 1 and 2 share three rare-ish terms -> mutual best match
    assert sorted(by_doc[1])[0][1] == 2
    assert sorted(by_doc[2])[0][1] == 1
    # doc 4 shares no token with anyone -> no rows
    assert 4 not in by_doc
    for rows in by_doc.values():
        for _, _, c in rows:
            assert 0.0 < c <= 1.0 + 1e-12


def test_pack_shards_exact_prefix_and_no_global_sort(spark):
    from functime_spark.pipeline.packing import pack_shards
    from functime_spark.plans import explain_str

    # sparse, shuffled ids to exercise range bucketing with gaps
    rows = [(i * 7 + 3, " ".join("w" for _ in range(i % 9 + 1))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_shards(docs, tokens_per_shard=20, n_buckets=8)
    got = {r["doc_id"]: r for r in out.collect()}
    run = 0
    for i in range(200):
        did = i * 7 + 3
        n = i % 9 + 1
        assert got[did]["n_tokens"] == n
        assert got[did]["start_offset"] == run
        assert got[did]["shard"] == run // 20
        run += n
    # the scalable shape: no single-partition global window sort
    plan = explain_str(out, "simple")
    assert "SinglePartition" not in plan


def test_domain_mix_weights_quota_math(spark):
    from functime_spark.pipeline.sampling import domain_mix_weights, rebalance_sample

    # srcA: 100 tokens, srcB: 50, srcC: 50 (untargeted)
    rows = (
        [(i, "w " * 10, "srcA") for i in range(10)]
        + [(100 + i, "w " * 10, "srcB") for i in range(5)]
        + [(200 + i, "w " * 10, "srcC") for i in range(5)]
    )
    docs = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows], "doc_id long, text string, source string"
    )
    w = {r["source"]: r for r in domain_mix_weights(
        docs, {"srcA": 0.5, "srcB": 0.5}, strata_col="source").collect()}
    # T = min(100/0.5, 50/0.5) = 100 -> A keeps 0.5*100/100=0.5, B keeps 1.0
    assert w["srcA"]["keep_frac"] == pytest.approx(0.5)
    assert w["srcB"]["keep_frac"] == pytest.approx(1.0)
    assert w["srcC"]["keep_frac"] == 0.0
    assert w["srcA"]["est_tokens"] == pytest.approx(50.0)
    kept = rebalance_sample(docs, {"srcA": 0.5, "srcB": 0.5}, strata_col="source")
    srcs = {r["source"] for r in kept.collect()}
    assert "srcC" not in srcs and "srcB" in srcs


def test_embedding_group_stats_tight_vs_loose_cluster(spark):
    import numpy as np

    from functime_spark.pipeline.similarity import embedding_group_stats

    rng = np.random.default_rng(3)
    base = rng.standard_normal(8)
    rows = []
    for i in range(20):  # tight cluster around base
        rows.append((i, [float(x) for x in base + 0.01 * rng.standard_normal(8)], 0))
    for i in range(20):  # diffuse cluster
        rows.append((100 + i, [float(x) for x in rng.standard_normal(8)], 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in embedding_group_stats(emb).collect()}
    assert out[0]["n"] == 20 and out[1]["n"] == 20
    # tight cluster: coherent (cos ~1), tiny inertia
    assert out[0]["mean_cos_centroid"] > 0.999
    assert out[0]["inertia"] < 0.01
    assert out[1]["inertia"] > out[0]["inertia"] * 100


def test_quality_tiers_quartiles(spark):
    from functime_spark.pipeline.lm import quality_tiers

    d = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, cross_entropy double"
    )
    out = {r["doc_id"]: r["tier"] for r in quality_tiers(d, n_tiers=4).collect()}
    assert out[0] == 0 and out[10] == 0
    assert out[30] == 1 and out[60] == 2 and out[99] == 3
    from collections import Counter

    c = Counter(out.values())
    assert set(c) == {0, 1, 2, 3}
    assert max(c.values()) - min(c.values()) <= 2  # balanced quartiles
    # descending mode flips the ordering
    desc = {r["doc_id"]: r["tier"] for r in quality_tiers(d, 4, ascending=False).collect()}
    assert desc[99] == 0 and desc[0] == 3

    # exact=True (the oracle-pinned opt-in) must match the default
    # GK-sketch tiers at this accuracy/scale
    exact = {
        r["doc_id"]: r["tier"]
        for r in quality_tiers(d, n_tiers=4, exact=True).collect()
    }
    assert exact == out
    # bounded state is the DEFAULT: the no-args plan carries the
    # mergeable sketch aggregate, not the unbounded exact percentile
    plan = quality_tiers(d, 4)._jdf.queryExecution().toString()
    assert "percentile_approx" in plan or "approx_percentile" in plan
    exact_plan = quality_tiers(d, 4, exact=True)._jdf.queryExecution().toString()
    assert "percentile_approx" not in exact_plan and "approx_percentile" not in exact_plan


def test_asof_join_backward_tie_and_tolerance(spark):
    from datetime import datetime

    from functime_spark.operators.joins import asof_join

    ts = lambda h, m=0: datetime(2024, 1, 1, h, m)
    left = spark.createDataFrame(
        [("a", ts(1)), ("a", ts(5)), ("a", ts(12)), ("b", ts(3))],
        "e string, t timestamp",
    )
    right = spark.createDataFrame(
        [("a", ts(0), 10.0), ("a", ts(5), 50.0), ("a", ts(9), 90.0)],
        "e string, t timestamp, px double",
    )
    out = {(r["e"], r["t"]): r["px"] for r in asof_join(left, right).collect()}
    assert out[("a", ts(1))] == 10.0      # backward match
    assert out[("a", ts(5))] == 50.0      # equal time matches
    assert out[("a", ts(12))] == 90.0     # latest earlier row
    assert out[("b", ts(3))] is None      # entity with no right rows
    # tolerance: the 12:00 row's last match (09:00) is > 2h old -> null
    tol = F.expr("INTERVAL 2 HOURS")
    out2 = {
        (r["e"], r["t"]): r["px"]
        for r in asof_join(left, right, tolerance=tol).collect()
    }
    assert out2[("a", ts(12))] is None
    assert out2[("a", ts(5))] == 50.0
    # name-clash suffix
    right2 = right.withColumnRenamed("px", "t2").withColumnRenamed("t2", "px")
    assert "px" in asof_join(left, right).columns


def test_read_panel_csv_json_parquet_agree(spark, tmp_path):
    """The same panel through all three source formats yields
    identical rows; downstream ops (extract_features) run unchanged."""
    import shutil

    from functime_spark.functions.features import extract_features
    from functime_spark.sources.tables import read_panel

    rows = [
        ("e1", "2024-01-01 00:00:00", 1.5),
        ("e1", "2024-01-01 01:00:00", 2.5),
        ("e1", "2024-01-01 02:00:00", 4.0),
        ("e2", "2024-01-01 00:00:00", -1.0),
        ("e2", "2024-01-01 01:00:00", 0.5),
    ]
    df = spark.createDataFrame(rows, "entity string, t string, y double").withColumn(
        "t", F.col("t").cast("timestamp")
    )
    base = str(tmp_path / "fmt")
    try:
        df.write.parquet(base + "/p")
        df.write.option("header", "true").csv(base + "/c")
        df.write.json(base + "/j")
        df.write.orc(base + "/o")
        ddl = "entity string, t timestamp, y double"
        got = {}
        for fmt, path, schema in [
            ("parquet", base + "/p", None),
            ("csv", base + "/c", ddl),
            ("json", base + "/j", ddl),
            ("orc", base + "/o", None),
        ]:
            p = read_panel(spark, path, "entity", "t", ["y"], format=fmt, schema=schema)
            got[fmt] = sorted((r["entity"], r["t"], r["y"]) for r in p.collect())
            assert extract_features(p, ["absolute_energy"]).count() == 2
        assert got["parquet"] == got["csv"] == got["json"] == got["orc"]
        # csv without schema: inference + string-time cast still lands
        p = read_panel(spark, base + "/c", "entity", "t", ["y"], format="csv")
        assert dict(p.dtypes)["t"] == "timestamp"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_interval_join_containment_vs_naive(spark):
    from datetime import datetime

    from functime_spark.operators.joins import interval_join

    ts = lambda d, h: datetime(2024, 1, d, h)
    pts = spark.createDataFrame(
        [("a", ts(1, 5), 1.0), ("a", ts(2, 23), 2.0), ("a", ts(5, 0), 3.0),
         ("b", ts(1, 5), 4.0)],
        "e string, t timestamp, y double",
    )
    ivs = spark.createDataFrame(
        [("a", ts(1, 0), ts(2, 23), "i1"),   # spans 2 days, inclusive end
         ("a", ts(4, 12), ts(4, 18), "i2"),  # matches nothing
         ("b", ts(1, 0), ts(1, 6), "i3")],
        "e string, start timestamp, end timestamp, tag string",
    )
    got = {(r["e"], r["t"], r["tag"]) for r in interval_join(pts, ivs, bucket="1d").collect()}
    assert got == {
        ("a", ts(1, 5), "i1"),
        ("a", ts(2, 23), "i1"),  # inclusive end boundary
        ("b", ts(1, 5), "i3"),
    }
    # bucket width must not change results, only candidate volume
    got_h = {(r["e"], r["t"], r["tag"]) for r in interval_join(pts, ivs, bucket="6h").collect()}
    assert got_h == got


def test_tfidf_max_df_drops_universal_token(spark):
    """A token in every doc must be cut by max_df — it would otherwise
    dominate the inverted-index self-join with an O(n^2) hot key."""
    from functime_spark.pipeline.similarity import tfidf_vectors

    docs = spark.createDataFrame(
        [(i, f"common w{i}") for i in range(40)], "doc_id long, text string"
    )
    weights, _ = tfidf_vectors(docs, max_df_frac=0.5)
    toks = {r["token"] for r in weights.select("token").distinct().collect()}
    assert "common" not in toks and "w3" in toks


def test_asof_join_forward_and_nearest(spark):
    from datetime import datetime

    from functime_spark.operators.joins import asof_join

    ts = lambda h: datetime(2024, 1, 1, h)
    left = spark.createDataFrame(
        [("a", ts(4)), ("a", ts(8)), ("a", ts(23))], "e string, t timestamp"
    )
    right = spark.createDataFrame(
        [("a", ts(0), 0.0), ("a", ts(5), 5.0), ("a", ts(9), 9.0)],
        "e string, t timestamp, px double",
    )
    fwd = {r["t"]: r["px"] for r in asof_join(left, right, direction="forward").collect()}
    assert fwd[ts(4)] == 5.0 and fwd[ts(8)] == 9.0 and fwd[ts(23)] is None
    near = {r["t"]: r["px"] for r in asof_join(left, right, direction="nearest").collect()}
    assert near[ts(4)] == 5.0   # 1h fwd beats 4h back
    assert near[ts(8)] == 9.0   # 1h fwd beats 3h back
    assert near[ts(23)] == 9.0  # only backward exists
    # equidistant -> backward (pandas rule): t=7 between 5 and 9
    mid = spark.createDataFrame([("a", ts(7))], "e string, t timestamp")
    nm = {r["t"]: r["px"] for r in asof_join(mid, right, direction="nearest").collect()}
    assert nm[ts(7)] == 5.0
    # nearest + tolerance: 2h window kills the 4h-away backward match
    tol = F.expr("INTERVAL 2 HOURS")
    nt = {r["t"]: r["px"] for r in asof_join(left, right, direction="nearest", tolerance=tol).collect()}
    assert nt[ts(4)] == 5.0 and nt[ts(23)] is None


def test_clean_corpus_stage_attrition(docs, spark):
    from functime_spark.pipeline.clean import clean_corpus

    bench = docs.filter(F.col("doc_id") % 31 == 0)
    clean, rep = clean_corpus(
        docs.select("doc_id", "text"),
        benchmark=bench,
        max_tier=2,
        decontaminate_n=6,
        use_gopher=False,  # the synthetic corpus has no stopwords; the
        # Gopher rules (correctly) reject all of it — covered below
    )
    stages = {r["stage"]: (r["docs_in"], r["docs_out"]) for r in rep.collect()}
    assert list(stages) == [
        "exact_dedup", "minhash_dedup", "decontaminate", "perplexity_tier",
    ]
    # monotone, chained: every stage's input == previous output
    vals = [stages[s] for s in stages]
    for (i1, o1), (i2, o2) in zip(vals, vals[1:]):
        assert o1 == i2 and o1 <= i1
    # benchmark members are in the corpus -> decontaminate must drop them
    din, dout = stages["decontaminate"]
    assert dout < din
    # the survivors are a subset of the input ids
    ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert ids <= {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert clean.count() == vals[-1][1]


def test_clean_corpus_gopher_stage_and_empty_survival(spark):
    """Gopher stage filters; downstream stages survive an emptied
    corpus (degenerate LM scores neutrally instead of crashing)."""
    from functime_spark.pipeline.clean import clean_corpus

    good = " ".join(
        "the quick brown fox jumps over a lazy dog and that is fine"
        .split() * 6
    )  # 72 words, stopword-rich, alphabetic — passes the Gopher rules
    docs = spark.createDataFrame(
        [(1, good), (2, good + " indeed"), (3, "###### !!!! ????")],
        "doc_id long, text string",
    )
    clean, rep = clean_corpus(docs, dedup="exact", max_tier=3)
    stages = {r["stage"]: (r["docs_in"], r["docs_out"]) for r in rep.collect()}
    assert stages["gopher"][1] == 2  # symbol-soup doc rejected
    assert clean.count() >= 1
    # all-filtered corpus: pipeline still completes end-to-end
    bad = spark.createDataFrame([(9, "#### !!!!")], "doc_id long, text string")
    clean2, rep2 = clean_corpus(bad, dedup="exact", max_tier=3)
    assert clean2.count() == 0


def test_interval_join_left_keeps_unmatched(spark):
    from datetime import datetime

    from functime_spark.operators.joins import interval_join

    ts = lambda d, h: datetime(2024, 1, d, h)
    pts = spark.createDataFrame(
        [("a", ts(1, 5), 1.0), ("a", ts(9, 0), 2.0)],
        "e string, t timestamp, y double",
    )
    ivs = spark.createDataFrame(
        [("a", ts(1, 0), ts(1, 23), "i1")],
        "e string, start timestamp, end timestamp, tag string",
    )
    out = interval_join(pts, ivs, bucket="1d", how="left").collect()
    by_t = {r["t"]: r for r in out}
    assert len(out) == 2
    assert by_t[ts(1, 5)]["tag"] == "i1"
    assert by_t[ts(9, 0)]["tag"] is None and by_t[ts(9, 0)]["start"] is None


def test_readability_hand_computed(spark):
    from functime_spark.pipeline.text import readability_scores

    d = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!")], "doc_id long, text string"
    )
    r = readability_scores(d).first()
    # words=6, sentences=2, syllable runs: e,a,a,e,o,a -> 6
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    wps, spw = 6 / 2, 6 / 6
    assert r["flesch_reading_ease"] == pytest.approx(206.835 - 1.015 * wps - 84.6 * spw)
    assert r["fk_grade"] == pytest.approx(0.39 * wps + 11.8 * spw - 15.59)


def test_line_dedup_drops_common_lines(spark):
    from functime_spark.pipeline.dedup import line_dedup

    d = spark.createDataFrame(
        [
            (1, "alpha unique one\ncommon footer\nbody text a"),
            (2, "beta unique two\ncommon footer\nbody text b"),
            (3, "gamma unique three\ncommon footer"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_dedup(d).collect()}
    # the footer occurs 3x -> every copy dropped; unique lines survive
    assert out[1]["text"] == "alpha unique one\nbody text a"
    assert out[2]["text"] == "beta unique two\nbody text b"
    assert out[3]["text"] == "gamma unique three"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2
    assert out[3]["n_lines"] == 2 and out[3]["n_kept"] == 1


def test_line_dedup_keep_first_and_normalization(spark):
    from functime_spark.pipeline.dedup import line_dedup

    d = spark.createDataFrame(
        [
            (1, "Common Footer\nkeep me"),
            (2, "common footer\nother body"),  # case-folds to same key
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_dedup(d, keep_first=True).collect()}
    # earliest (doc_id, pos) copy survives, later copy dropped;
    # normalization is lower(trim) so the case variant matches
    assert out[1]["text"] == "Common Footer\nkeep me"
    assert out[2]["text"] == "other body"


def test_line_dedup_min_chars_exempts_short_lines(spark):
    from functime_spark.pipeline.dedup import line_dedup

    d = spark.createDataFrame(
        [(1, "x\nlong repeated line"), (2, "x\nlong repeated line")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(d, min_line_chars=5).collect()
    }
    # 'x' repeats but is under min_line_chars -> exempt; the long
    # repeated line is dropped from both docs
    assert out[1]["text"] == "x" and out[2]["text"] == "x"


def test_line_dedup_empty_doc_survives_as_row(spark):
    from functime_spark.pipeline.dedup import line_dedup

    d = spark.createDataFrame(
        [(1, "same\nsame"), (2, "other")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in line_dedup(d).collect()}
    # within-doc repeats count as occurrences too; doc 1 loses all
    # lines but still emits a row with empty text
    assert out[1]["text"] == "" and out[1]["n_kept"] == 0
    assert out[2]["text"] == "other"


def test_scrub_duplicated_spans_removes_covered_tokens(spark):
    from functime_spark.pipeline.dedup import scrub_duplicated_spans

    dup = "the quick brown fox jumps"
    d = spark.createDataFrame(
        [
            (1, f"intro words {dup} tail one"),
            (2, f"{dup} closing remark here"),
            (3, "completely different tokens entirely"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in scrub_duplicated_spans(d, k=5).collect()
    }
    # the shared 5-gram is scrubbed from both docs; neighbours survive
    assert out[1]["text"] == "intro words tail one"
    assert out[2]["text"] == "closing remark here"
    assert out[3]["text"] == "completely different tokens entirely"
    assert out[1]["n_tokens"] == 9 and out[1]["n_kept"] == 4
    assert out[3]["n_kept"] == 4


def test_scrub_spans_null_text_clean_empty(spark):
    """ADVICE r10: null text must yield a clean empty result row, not
    a null-poisoned sequence/zip_with chain (split('') never returns
    an empty array, so null was the only exposure)."""
    from functime_spark.pipeline.dedup import scrub_duplicated_spans

    dup = "alpha beta gamma delta epsilon"
    d = spark.createDataFrame(
        [(1, f"{dup} one"), (2, f"{dup} two"), (3, None)],
        "doc_id int, text string",
    )
    for kf in (False, True):
        out = {
            r["doc_id"]: r
            for r in scrub_duplicated_spans(d, k=5, keep_first=kf).collect()
        }
        assert out[3]["text"] == ""
        # split('') yields [''] -> one (empty) token, zero grams
        assert out[3]["n_tokens"] == 1 and out[3]["n_dup_spans"] == 0
        # the shared gram is still detected in the non-null docs
        assert out[2]["text"] == "two"


def test_scrub_spans_short_docs_untouched(spark):
    from functime_spark.pipeline.dedup import scrub_duplicated_spans

    d = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in scrub_duplicated_spans(d, k=5).collect()}
    # docs shorter than k carry no grams -> never scrubbed even when
    # the whole text repeats (exact_dedup's job, not span scrub's)
    assert out[1]["text"] == "too short" and out[1]["n_kept"] == 2


def test_write_partitioned_orc_roundtrip(spark, tmp_path):
    import shutil

    from functime_spark.sources.tables import read_panel, write_partitioned

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)],
        "entity string, t long, y double",
    )
    path = str(tmp_path / "orcpart")
    try:
        write_partitioned(df, path, partition_cols=["entity"], format="orc")
        back = read_panel(spark, path, "entity", "t", ["y"], format="orc")
        assert sorted((r["entity"], r["t"], r["y"]) for r in back.collect()) == [
            ("a", 1, 1.0),
            ("a", 2, 2.0),
            ("b", 1, 3.0),
        ]
        # hive partition dirs exist -> partition pruning on read
        import os

        assert any(d.startswith("entity=") for d in os.listdir(path))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_minhash_incremental_store(spark):
    from functime_spark.pipeline.dedup import minhash_dedup_incremental

    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zzz"
    far = " ".join(f"q{i}" for i in range(60))
    near_far = " ".join(f"q{i}" for i in range(59)) + " yyy"

    batch1 = spark.createDataFrame(
        [(1, base), (2, far)], "doc_id long, text string"
    )
    p1, store = minhash_dedup_incremental(batch1, threshold=0.5)
    assert p1.count() == 0
    store = store.localCheckpoint()

    batch2 = spark.createDataFrame(
        [(10, near), (11, near_far), (12, "totally different stuff here now")],
        "doc_id long, text string",
    )
    p2, store2 = minhash_dedup_incremental(batch2, store, threshold=0.5)
    keys = {(r["id_a"], r["id_b"]) for r in p2.collect()}
    # cross matches: new doc against its historical near-dup, found
    # WITHOUT re-reading historical text (signatures only)
    assert (10, 1) in keys and (11, 2) in keys
    # no store-vs-store re-emission
    assert all(a >= 10 for a, _ in keys)
    assert store2.count() == 5


def test_normalize_text_folds_unicode_and_whitespace(spark):
    from functime_spark.pipeline.text import normalize_text

    d = spark.createDataFrame(
        [
            (0, "“Hi” there — ok…"),
            (1, "a\x07b​  c\t\nd"),
            (2, "already clean"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in normalize_text(d).collect()}
    assert rows[0].text_norm == '"Hi" there - ok...'
    assert rows[1].text_norm == "ab c\nd"  # newlines survive for line ops
    assert rows[2].text_norm == "already clean"
    assert rows[2].chars_removed == 0
    # idempotent: a second pass changes nothing
    once = normalize_text(d).select(
        "doc_id", F.col("text_norm").alias("text")
    )
    twice = {r.doc_id: r for r in normalize_text(once).collect()}
    assert all(t.chars_removed == 0 for t in twice.values())
    # lowercase variant for dedup keys
    lc = {
        r.doc_id: r.text_norm
        for r in normalize_text(d, lowercase=True).collect()
    }
    assert lc[0] == '"hi" there - ok...'


def test_c4_filter_line_and_doc_rules(spark):
    from functime_spark.pipeline.text import c4_quality_filter

    good = "this line has plenty of words and ends well."
    d = spark.createDataFrame(
        [
            (0, f"{good}\n{good}\n{good}"),
            (1, f"{good}\nno terminal punct line here\nshort one.\n{good}\n{good}"),
            (2, f"{good}\n{good}\n{good}\nsee lorem ipsum text."),
            (3, f"{good}\n{good}\nvar f = {{}};\n{good}"),
            (4, f"{good}\nenable javascript to view this page.\n{good}\n{good}"),
            (5, "only two good lines here, sadly.\nthe second of the pair is fine."),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_quality_filter(d).collect()}
    assert out[0].keep and out[0].n_kept_lines == 3
    # line rules: unpunctuated + <5-word lines dropped, doc still kept
    assert out[1].keep and out[1].n_kept_lines == 3
    assert out[2].has_lorem and not out[2].keep
    assert out[3].has_brace and not out[3].keep
    # javascript line dropped but 3 good lines remain
    assert out[4].keep and out[4].n_kept_lines == 3
    assert "javascript" not in out[4].text_clean
    assert not out[5].keep and out[5].n_kept_lines == 2


def test_pca_matches_eigh_and_projects(spark):
    from functime_spark.pipeline.similarity import fit_pca, project_pca

    rng = np.random.RandomState(7)
    # anisotropic cloud: two dominant axes out of 6
    base = rng.randn(300, 6) * np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    d = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    mu, comps, lams = fit_pca(d, n_components=2, n_iter=50)
    X = np.asarray(
        d.orderBy("vec_id").select("embedding").toPandas()["embedding"].tolist(),
        dtype="float64",
    )
    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc / len(X)
    w, v = np.linalg.eigh(C)
    # top-2 eigenpairs, eigh returns ascending
    assert np.allclose(sorted(lams, reverse=True), w[::-1][:2], rtol=1e-6)
    for i in range(2):
        ref = v[:, ::-1][:, i]
        got = comps[i]
        assert abs(abs(float(ref @ got)) - 1.0) < 1e-6  # same axis up to sign
    # orthonormal
    assert abs(float(comps[0] @ comps[1])) < 1e-6
    out = project_pca(d, mu, comps).orderBy("vec_id").toPandas()
    # projected variance equals the eigenvalues
    assert np.allclose(out[["pc1", "pc2"]].var(ddof=0).values, lams, rtol=1e-5)


def test_canonicalize_urls_rules(spark):
    from functime_spark.pipeline.text import canonicalize_urls, dedup_by_url

    d = spark.createDataFrame(
        [
            (0, "HTTPS://WWW.Ex.COM:443/P/Q/?utm_source=x&b=2&a=1&fbclid=z#f"),
            (1, "https://www.ex.com/P/Q?a=1&b=2"),
            (2, "http://ex.com:80"),
            (3, "http://ex.com/"),
            (4, "https://ex.com/A?gclid=only"),
            (5, "https://ex.com/A"),
        ],
        "doc_id long, url string",
    )
    canon = {r.doc_id: r.url_canon for r in canonicalize_urls(d).collect()}
    assert canon[0] == canon[1] == "https://www.ex.com/P/Q?a=1&b=2"
    assert canon[2] == canon[3] == "http://ex.com"
    assert canon[4] == canon[5] == "https://ex.com/A"
    kept = sorted(r.doc_id for r in dedup_by_url(d).collect())
    assert kept == [0, 2, 4]


def test_canonicalize_urls_edge_cases(spark):
    """First-occurrence splitting and scheme-aware default ports:
    crawl URLs embed other URLs in query params and '?' in values; a
    non-default port (:443 on http) must survive canonicalization."""
    from functime_spark.pipeline.text import canonicalize_urls

    d = spark.createDataFrame(
        [
            # embedded URL in a query param — split on FIRST '://'/'?'
            (0, "https://a.com/r?u=https://b.com/x&z=1"),
            # second '?' inside a param value stays part of the value
            (1, "https://a.com/r?q=what?&z=1"),
            # non-default ports: must NOT be stripped
            (2, "http://ex.com:443/p"),
            (3, "https://ex.com:80/p"),
            # default ports on the matching scheme: stripped
            (4, "http://ex.com:80/p"),
            (5, "https://ex.com:443/p"),
        ],
        "doc_id long, url string",
    )
    canon = {r.doc_id: r.url_canon for r in canonicalize_urls(d).collect()}
    assert canon[0] == "https://a.com/r?u=https://b.com/x&z=1"
    assert canon[1] == "https://a.com/r?q=what?&z=1"
    assert canon[2] == "http://ex.com:443/p"
    assert canon[3] == "https://ex.com:80/p"
    assert canon[4] == "http://ex.com/p"
    assert canon[5] == "https://ex.com/p"


def test_chunk_documents_overlap_and_tail(spark):
    from functime_spark.pipeline.packing import chunk_documents

    d = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(10))),
            (1, "a b c"),
            (2, ""),
            (3, "  "),
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(d, chunk_tokens=4, overlap=1).orderBy(
        "doc_id", "chunk_id"
    ).collect()
    got = [(r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens) for r in out]
    assert got == [
        (0, 0, "t0 t1 t2 t3", 4),
        (0, 1, "t3 t4 t5 t6", 4),
        (0, 2, "t6 t7 t8 t9", 4),
        (0, 3, "t9", 1),
        (1, 0, "a b c", 3),
    ]
    # chunks cover every token: stride reassembly minus overlaps
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(d, chunk_tokens=4, overlap=4)


def test_script_profile_census_and_dominant(spark):
    from functime_spark.pipeline.text import script_profile

    d = spark.createDataFrame(
        [
            (0, "hello world"),
            (1, "ЖЗИ ok"),
            (2, "中文字符串"),
            (3, "αβ abc 가각갂갃"),
            (4, "123 !?"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in script_profile(d).collect()}
    assert out[0].dominant_script == "latin" and out[0].n_latin == 10
    assert out[1].dominant_script == "cyrillic" and out[1].n_cyrillic == 3
    assert out[2].dominant_script == "han" and out[2].n_han == 5
    assert out[3].dominant_script == "hangul" and out[3].n_hangul == 4
    assert out[4].dominant_script == "other" and out[4].n_nonspace == 5


def test_clean_corpus_normalize_c4_url_stages(spark):
    from functime_spark.pipeline.clean import clean_corpus

    good = "this line has plenty of words and ends well."
    d = spark.createDataFrame(
        [
            (0, f"{good}\n{good}\n{good}", "https://ex.com/a?utm_source=1"),
            (1, f"{good}\n{good}\n{good}", "https://EX.com/a"),  # url dup of 0
            (2, "lorem ipsum here.\n" + "\n".join([good] * 3), "https://ex.com/b"),
            (3, f"“{good}”\n{good}\n{good}\n{good}", "https://ex.com/c"),
        ],
        "doc_id long, text string, url string",
    )
    out, rep = clean_corpus(
        d,
        normalize=True,
        use_c4=True,
        url_col="url",
        use_gopher=False,
        dedup="exact",
        minhash_threshold=0.8,
    )
    stages = {r.stage: (r.docs_in, r.docs_out) for r in rep.collect()}
    assert stages["normalize"] == (4, 4)
    assert stages["url_dedup"] == (4, 3)  # doc 1 dies (canonical dup of 0)
    assert stages["c4"][1] == 2  # doc 2 dies (lorem ipsum)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 3]
    # normalize ran before c4: the curly quotes folded, doc 3 survived
    t3 = [r.text for r in out.collect() if r.doc_id == 3][0]
    assert "“" not in t3 and t3.count("\n") == 3


def test_vocab_stats_zipf(spark):
    from functime_spark.pipeline.sampling import vocab_stats

    d = spark.createDataFrame(
        [
            (0, "a a a a b b c"),
            (1, "a a b b c d"),
            (2, "a  b\tc"),
        ],
        "doc_id long, text string",
    )
    out = vocab_stats(d, top_k=3).orderBy("rank").collect()
    assert [(r.token, r["count"], r.rank) for r in out] == [
        ("a", 7, 1),
        ("b", 5, 2),
        ("c", 3, 3),
    ]
    import math

    lx = [math.log(r) for r in (1, 2, 3)]
    ly = [math.log(c) for c in (7, 5, 3)]
    n = 3
    mx, my = sum(lx) / n, sum(ly) / n
    slope = (sum(a * b for a, b in zip(lx, ly)) / n - mx * my) / (
        sum(a * a for a in lx) / n - mx * mx
    )
    assert out[0].zipf_slope == pytest.approx(slope, rel=1e-9)


def test_vocab_stats_no_global_sort_exchange(spark):
    """The top-k cut must be TakeOrdered (partial per-partition top-k),
    not a rangepartitioning global sort of the vocabulary."""
    from functime_spark.pipeline.sampling import vocab_stats
    from functime_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = explain_str(vocab_stats(docs))
    assert "rangepartitioning" not in plan.lower()


def test_strip_html_rules(spark):
    from functime_spark.pipeline.text import strip_html

    d = spark.createDataFrame(
        [
            (0, "<p>Hello <b>world</b></p>"),
            (1, "<script>var x = '<p>not text</p>';</script>after"),
            (2, "<style>p { color: red }</style>styled"),
            (3, "<!-- a\ncomment -->kept"),
            (4, "A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"),
            (5, ""),
            (6, "plain text, no markup"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text_clean, r.markup_chars) for r in strip_html(d).collect()}
    assert out[0] == ("Hello world", 14)
    assert out[1][0] == "after"
    assert out[2][0] == "styled"
    assert out[3][0] == "kept"
    assert out[4][0] == "A & B <ok> \"q\" 's' end"
    assert out[5] == ("", 0)
    assert out[6] == ("plain text, no markup", 0)


def test_strip_html_no_double_unescape(spark):
    """'&amp;lt;' is ESCAPED markup shown as text — one unescape pass
    must yield '&lt;', not '<' (the &amp; rule runs last, like every
    standard entity unescaper)."""
    from functime_spark.pipeline.text import strip_html

    d = spark.createDataFrame(
        [(0, "use &amp;lt;b&amp;gt; for bold")], "doc_id long, text string"
    )
    assert strip_html(d).collect()[0].text_clean == "use &lt;b&gt; for bold"


def test_mojibake_scan_counts_and_verdict(spark):
    from functime_spark.pipeline.text import MOJIBAKE_PATTERNS, mojibake_scan

    eacute = MOJIBAKE_PATTERNS[0]          # A-tilde + copyright pair
    rsq = MOJIBAKE_PATTERNS[8]             # 3-char right single quote
    clean = "perfectly clean ascii text that is long enough to stay calm"
    d = spark.createDataFrame(
        [
            (0, clean),
            (1, "caf" + eacute + " bar"),              # 1 hit, short text
            (2, clean * 20 + eacute),                  # 1 hit, long text
            (3, rsq + eacute + rsq),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in mojibake_scan(d).collect()}
    assert out[0].mojibake_hits == 0 and out[0].is_mojibake == 0
    assert out[1].mojibake_hits == 1 and out[1].is_mojibake == 1
    # same single hit but diluted below 1 per kchar: not flagged
    assert out[2].mojibake_hits == 1 and out[2].is_mojibake == 0
    assert out[3].mojibake_hits == 3 and out[3].is_mojibake == 1


def test_clean_corpus_html_and_mojibake_stages(spark):
    from functime_spark.pipeline.clean import clean_corpus
    from functime_spark.pipeline.text import MOJIBAKE_PATTERNS

    moji = MOJIBAKE_PATTERNS[8] * 4
    good = "the good and long document that should clearly survive " * 5
    d = spark.createDataFrame(
        [
            (0, "<p>" + good + "</p>"),
            (1, good + " tail"),
            (2, "short " + moji),
        ],
        "doc_id long, text string",
    )
    out, rep = clean_corpus(
        d,
        html_strip=True,
        mojibake_max=1.0,
        use_gopher=False,
        dedup="exact",
    )
    stages = {r.stage: (r.docs_in, r.docs_out) for r in rep.collect()}
    assert stages["html_strip"] == (3, 3)
    assert stages["mojibake"] == (3, 2)
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert kept == [0, 1]
    # html stage rewrote doc 0: tags gone
    texts = {r.doc_id: r.text for r in out.collect()}
    assert "<p>" not in texts[0]


def test_pipeline_ops_survive_empty_corpus(spark):
    """Every doc-level operator must return an EMPTY result (not
    crash) on an empty corpus — at scale a filter chain can drain a
    partition or a whole input, and a driver-side .first()/percentile
    returning None must not kill the job."""
    from functime_spark.pipeline import dedup as D
    from functime_spark.pipeline import lm as L
    from functime_spark.pipeline import packing as P
    from functime_spark.pipeline import sampling as S
    from functime_spark.pipeline import text as T
    from functime_spark.pipeline.decontaminate import decontaminate

    empty = spark.createDataFrame([], "doc_id long, text string")
    probe = spark.createDataFrame([(1, "some benchmark text here")],
                                  "doc_id long, text string")

    assert D.exact_dedup(empty).count() == 0
    assert D.minhash_dedup(empty).count() == 0
    assert D.simhash_near_dups(empty).count() == 0
    assert D.ngram_jaccard_pairs(empty).count() == 0
    assert D.line_dedup(empty).count() == 0
    assert D.scrub_duplicated_spans(empty).count() == 0
    assert T.gopher_quality_filter(empty).count() == 0
    assert T.c4_quality_filter(empty).count() == 0
    assert T.normalize_text(empty).count() == 0
    assert T.strip_html(empty).count() == 0
    assert T.mojibake_scan(empty).count() == 0
    assert T.script_profile(empty).count() == 0
    assert L.ngram_lm_score(empty).count() == 0
    assert L.quality_tiers(L.ngram_lm_score(empty)).count() == 0
    assert P.chunk_documents(empty).count() == 0
    assert S.vocab_stats(empty).count() == 0
    assert S.corpus_stats(empty.withColumn("lang", F.lit("en"))
                          .withColumn("source", F.lit("s"))).count() == 0
    assert decontaminate(empty, probe).count() == 0
    empty_lang = empty.withColumn("lang", F.lit("en"))
    assert S.corpus_quantiles(
        empty_lang.withColumn("n_chars", F.length("text"))
    ).count() == 0
    assert S.temperature_mix_weights(empty_lang).count() == 0
    assert T.lang_confusion(empty_lang).count() == 0
    assert D.component_size_histogram(
        D.connected_components(
            spark.createDataFrame([], "id_a long, id_b long")
        )
    ).count() == 0
    from functime_spark.pipeline.bpe import bpe_vocab, fit_bpe
    from functime_spark.pipeline.similarity import hashed_features

    assert fit_bpe(empty, n_merges=4) == []
    assert bpe_vocab([], spark).count() == 0
    assert hashed_features(empty, dim=8).count() == 0
    # DSIR: empty raw corpus, empty target, or both — the smoothed
    # model is still well-defined and scoring returns empty/neutral
    assert S.dsir_weights(empty, probe, n_buckets=32).count() == 0
    m = S.fit_dsir(probe, empty, n_buckets=32)
    scored = {r.doc_id: r for r in S.dsir_score(probe, m).collect()}
    assert scored[1].n_feats == 7  # 4 unigrams + 3 bigrams
    assert S.dsir_weights(empty, empty, n_buckets=32).count() == 0


def test_ann_model_save_load_roundtrip(spark, tmp_path):
    """IVF centroids / PQ codebooks / SQ8 stats survive a parquet
    round-trip and reproduce identical search results."""
    import numpy as np

    from functime_spark.pipeline.similarity import (
        IVFIndex,
        PQCodebook,
        SQ8Index,
        load_ann_model,
        save_ann_model,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [0.1] * 64

    ivf = IVFIndex(n_cells=4, init="spread").fit(emb)
    save_ann_model(ivf, spark, str(tmp_path / "ivf"))
    ivf2 = load_ann_model(spark, str(tmp_path / "ivf"))
    np.testing.assert_array_equal(ivf.centroids, ivf2.centroids)
    a1 = ivf.search(ivf.assign(emb), qv, k=5).collect()
    a2 = ivf2.search(ivf2.assign(emb), qv, k=5).collect()
    assert a1 == a2

    pq = PQCodebook(n_subspaces=8, ksub=8).fit(emb)
    save_ann_model(pq, spark, str(tmp_path / "pq"))
    pq2 = load_ann_model(spark, str(tmp_path / "pq"))
    np.testing.assert_array_equal(pq.codebooks, pq2.codebooks)
    enc = pq.encode(emb)
    assert pq.adc_search(enc, qv, k=5).collect() == pq2.adc_search(
        pq2.encode(emb), qv, k=5
    ).collect()

    sq = SQ8Index().fit(emb)
    save_ann_model(sq, spark, str(tmp_path / "sq8"))
    sq2 = load_ann_model(spark, str(tmp_path / "sq8"))
    assert sq.mins == sq2.mins and sq.scales == sq2.scales


def test_shingles_zipwith_matches_reference_semantics(spark):
    """The zip_with shingle construction must equal the documented
    slice-and-join semantics (grams of words[i:i+n], clamped, distinct
    keeping first occurrence) for adversarial tokenizations: empty
    text, 1..n-1 words, repeated words, runs of whitespace, tabs."""
    import random
    import re

    from functime_spark.pipeline.dedup import shingles

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "dd", "e", "ff"]
    texts = ["", " ", "a", "a b", "a  b\tc", "x x x x x"]
    for _ in range(40):
        k = rng.randint(0, 8)
        sep = rng.choice([" ", "  ", "\t", " \t "])
        texts.append(sep.join(rng.choice(vocab) for _ in range(k)))

    def ref(text, n):
        words = re.split(r"\s+", text)
        m = max(len(words) - n, 0) + 1
        grams = [" ".join(words[i : i + n]) for i in range(m)]
        seen, out = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for n in (2, 3, 5):
        got = {
            r.doc_id: r.g
            for r in d.select(
                "doc_id", shingles(F.col("text"), n).alias("g")
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == ref(t, n), (n, repr(t), got[i], ref(t, n))


def test_canonicalize_urls_idempotent(spark):
    """Canonicalization must be a projection onto its own fixed points:
    canon(canon(u)) == canon(u) for messy crawl URLs."""
    from functime_spark.pipeline.text import canonicalize_urls

    urls = [
        "HTTPS://Ex.COM:443/A/B/?b=2&a=1&utm_source=x#frag",
        "http://ex.com:80",
        "https://a.com/r?u=https://b.com/x&z=1",
        "https://a.com/r?q=what?&z=1",
        "ftp://odd.scheme/path/",
        "no-scheme-at-all/path?x=1",
        "https://ex.com/A",
    ]
    d = spark.createDataFrame(list(enumerate(urls)), "doc_id long, url string")
    once = canonicalize_urls(d).select(
        "doc_id", F.col("url_canon").alias("url")
    )
    twice = canonicalize_urls(once)
    rows = {r.doc_id: (r.url, r.url_canon) for r in twice.collect()}
    for i, (u, c) in rows.items():
        assert u == c, (urls[i], u, c)


def test_language_id_new_lexicons(spark):
    """The four round-4 lexicons (it/pt/nl/ru) must win on their own
    sample sentences despite heavy stopword overlap with es/fr/de."""
    from functime_spark.pipeline.text import language_id

    d = spark.createDataFrame(
        [
            (0, "il gatto e sulla sedia che non sono per una casa"),
            (1, "o menino foi para a escola com um livro que os pais deram"),
            (2, "de jongen ging met het boek naar een school die niet ver was van hier en ik"),
            (3, "я не знаю что он думает в это время и как с этим быть"),
            (4, "the quick brown fox is in the yard and it is happy for a while"),
        ],
        "doc_id long, text string",
    )
    pred = {r.doc_id: r.pred_lang for r in language_id(d).collect()}
    assert pred == {0: "it", 1: "pt", 2: "nl", 3: "ru", 4: "en"}


def test_script_profile_round4_scripts(spark):
    """Hebrew/Devanagari/Thai/Hiragana/Katakana counts and dominance."""
    from functime_spark.pipeline.text import script_profile

    d = spark.createDataFrame(
        [
            (0, "\u05e9\u05dc\u05d5\u05dd"),            # Hebrew
            (1, "\u0928\u092e\u0938\u094d\u0924\u0947"),  # Devanagari
            (2, "\u0e2a\u0e27\u0e31\u0e2a\u0e14\u0e35"),  # Thai
            (3, "\u3053\u3093\u306b\u3061\u306f"),      # Hiragana
            (4, "\u30ab\u30bf\u30ab\u30ca"),             # Katakana
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in script_profile(d).collect()}
    assert out[0].dominant_script == "hebrew" and out[0].n_hebrew == 4
    assert out[1].dominant_script == "devanagari" and out[1].n_devanagari == 6
    assert out[2].dominant_script == "thai" and out[2].n_thai == 6
    assert out[3].dominant_script == "hiragana" and out[3].n_hiragana == 5
    assert out[4].dominant_script == "katakana" and out[4].n_katakana == 4


def test_pii_scan_card_and_iban(spark):
    from functime_spark.pipeline.text import pii_scan

    d = spark.createDataFrame(
        [
            (0, "pay with 4111-1111-1111-1111 now"),
            (1, "wire to DE44500105175407324931 please"),
            (2, "clean text with plain numbers 12345"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scan(d, redact=True).collect()}
    assert out[0].n_credit_card == 1 and out[0].has_pii == 1
    assert "<CREDIT_CARD>" in out[0].redacted
    assert out[1].n_iban == 1 and "<IBAN>" in out[1].redacted
    assert out[2].has_pii == 0


def test_bpe_fit_and_tokenize_matches_python_reference(spark):
    """fit_bpe's merge list and bpe_tokenize's counts must agree with
    a direct Python replay (string replace over space-joined chars)."""
    from functime_spark.pipeline.bpe import bpe_tokenize, fit_bpe

    texts = [
        "lower lower lowest newer newest wider widest new new new",
        "low lower lowest wide wider widest",
        "the newer the better the wider the better",
        "singleton",
    ]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    merges = fit_bpe(d, n_merges=10)
    assert len(merges) == 10
    # the most frequent pair in this corpus must be merged first
    assert merges[0] in ("e r", "w e", "e w", "n e", "l o", "o w", "w i", "t h")

    def py_tokens(text):
        total = 0
        words = [w for w in text.split() if w]
        for w in words:
            enc = " ".join(w)
            for m in merges:
                enc = enc.replace(m, m.replace(" ", ""))
            total += len(enc.split(" "))
        return len(words), total

    got = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in bpe_tokenize(d, merges).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_tokens(t), (t, got[i], py_tokens(t))
    # merges compress: fewer subwords than characters
    assert got[0][1] < sum(len(w) for w in texts[0].split())


def test_pack_shards_with_bpe_budget(spark):
    """pack_shards(bpe_merges=...) budgets by exact BPE subword counts
    (offsets = prefix of bpe_tokenize counts in id order)."""
    from functime_spark.pipeline.bpe import bpe_tokenize, fit_bpe
    from functime_spark.pipeline.packing import pack_shards

    d = spark.createDataFrame(
        [(i, "lower lowest newer newest " * (i + 1)) for i in range(6)],
        "doc_id long, text string",
    )
    merges = fit_bpe(d, n_merges=6)
    counts = {
        r.doc_id: r.n_bpe_tokens for r in bpe_tokenize(d, merges).collect()
    }
    out = {r.doc_id: r for r in pack_shards(d, 50, bpe_merges=merges).collect()}
    run = 0
    for i in range(6):
        assert out[i].n_tokens == counts[i]
        assert out[i].start_offset == run
        assert out[i].shard == run // 50
        run += counts[i]


def test_bpe_tokenize_engines_agree(spark):
    """expr and arrow engines must produce identical counts; auto
    dispatches by merge-list size."""
    from functime_spark.pipeline.bpe import bpe_tokenize, fit_bpe

    d = spark.createDataFrame(
        [(i, "lower lowest newer newest wider " * (i % 3 + 1)) for i in range(12)],
        "doc_id long, text string",
    )
    merges = fit_bpe(d, n_merges=12)
    a = sorted(map(tuple, bpe_tokenize(d, merges, engine="expr").collect()))
    b = sorted(map(tuple, bpe_tokenize(d, merges, engine="arrow").collect()))
    assert a == b


def test_bpe_fit_matches_replace_semantics_training(spark):
    """Trainer must use the SAME greedy literal-replace the tokenizer
    and the oracle replay use. This corpus is adversarial: after
    merges 'o w' then 'l o', replace glues across the l|ow symbol
    boundary in 'slow' ('s l ow' -> 's low') where a symbol-splice
    trainer would not — the merge lists diverge from round 7 on."""
    from functime_spark.pipeline.bpe import fit_bpe

    words = {"slow": 10, "now": 50, "cow": 20, "alo": 30, "ilo": 31}
    rows = [
        (i, " ".join([w] * c))
        for i, (w, c) in enumerate(sorted(words.items()))
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    # pure-Python replay of replace-semantics training
    vocab = [[" ".join(w), c] for w, c in sorted(words.items())]
    expect = []
    for _ in range(8):
        pc = {}
        for enc, cnt in vocab:
            syms = enc.split(" ")
            for x, y in zip(syms, syms[1:]):
                pc[f"{x} {y}"] = pc.get(f"{x} {y}", 0) + cnt
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect.append(best)
        vocab = [[e.replace(best, best.replace(" ", "")), c] for e, c in vocab]

    assert fit_bpe(d, n_merges=8) == expect


def test_bpe_tokenize_null_and_unicode_whitespace(spark):
    """NULL text counts as (0, 0) on both engines (matching the
    oracle's LEFT JOIN/COALESCE), and Unicode whitespace (NBSP) is
    NOT a word boundary on either engine — Java and RE2 \\s+ are
    ASCII-only, so the arrow engine must use re.ASCII too."""
    from functime_spark.pipeline.bpe import bpe_tokenize
    from functime_spark.pipeline.packing import pack_shards

    d = spark.createDataFrame(
        [(0, None), (1, "a\u00a0b"), (2, "a b")],
        "doc_id long, text string",
    )
    merges = ["x y"]
    a = {r.doc_id: (r.n_words, r.n_bpe_tokens)
         for r in bpe_tokenize(d, merges, engine="expr").collect()}
    b = {r.doc_id: (r.n_words, r.n_bpe_tokens)
         for r in bpe_tokenize(d, merges, engine="arrow").collect()}
    assert a == b
    assert a[0] == (0, 0)
    assert a[1] == (1, 3)  # NBSP keeps 'a\xa0b' one word of 3 chars
    assert a[2] == (2, 2)
    # NULL text must not poison pack_shards prefix sums
    packed = {r.doc_id: r for r in pack_shards(d, 10, bpe_merges=merges).collect()}
    assert packed[0].n_tokens == 0 and packed[1].start_offset == 0
    assert packed[2].start_offset == 3


def test_pii_scan_shortest_iban(spark):
    """15-char IBANs (Norway) are valid and must be caught — the
    pattern's tail is {11,30}, not {12,30}."""
    from functime_spark.pipeline.text import pii_scan

    d = spark.createDataFrame(
        [(0, "wire to NO9386011117947 today")], "doc_id long, text string"
    )
    row = pii_scan(d, redact=True).collect()[0]
    assert row.n_iban == 1 and "<IBAN>" in row.redacted


def test_fit_kmeans_assign_matches_numpy(spark):
    """assign_clusters must reproduce numpy nearest-centroid argmin
    (first minimum on ties) and the exact squared distance."""
    import numpy as np

    from functime_spark.pipeline.similarity import assign_clusters, fit_kmeans

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 8)).astype("float32")
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = fit_kmeans(d, k=4, n_iter=3)
    C = np.asarray(model.centroids)
    got = {r.vec_id: (r.cluster, r.dist2) for r in assign_clusters(d, model).collect()}
    Xd = X.astype("float64")
    for i in range(len(X)):
        dd = ((Xd[i][None, :] - C) ** 2).sum(axis=1)
        assert got[i][0] == int(dd.argmin())
        assert abs(got[i][1] - dd.min()) < 1e-9


def test_temperature_mix_weights_properties(spark):
    """weights sum to 1; alpha=1 reproduces the current mixture;
    alpha=0 is uniform; alpha<1 upweights the low-resource domain."""
    from functime_spark.pipeline.sampling import temperature_mix_weights

    d = spark.createDataFrame(
        [(0, "en", "a " * 90), (1, "en", "b " * 9), (2, "fr", "c " * 1)],
        "doc_id long, lang string, text string",
    )
    for alpha in (0.0, 0.5, 1.0):
        rows = temperature_mix_weights(d, alpha=alpha).collect()
        assert abs(sum(r.weight for r in rows) - 1.0) < 1e-12
        w = {r.lang: r for r in rows}
        if alpha == 1.0:
            assert abs(w["en"].weight - w["en"].current_frac) < 1e-12
            assert abs(w["en"].upsample_factor - 1.0) < 1e-12
        if alpha == 0.0:
            assert abs(w["fr"].weight - 0.5) < 1e-12
        if alpha == 0.5:
            assert w["fr"].weight > w["fr"].current_frac  # upweighted
            assert w["en"].weight < w["en"].current_frac


def test_dsir_weights_rank_and_edges(spark):
    """DSIR (Xie et al. 2023): docs sharing the target's n-gram
    buckets must outweigh off-target docs; empty/NULL text scores
    (0, 0.0); weights are deterministic under repartition; the count
    tables broadcast (never a corpus-sized shuffle join)."""
    from functime_spark.pipeline.sampling import dsir_weights
    from functime_spark.plans import explain_str, python_eval_nodes

    rows = [
        (0, "en", "the quick brown fox jumps over the lazy dog"),
        (1, "en", "the quick brown fox runs under the busy dog"),
        (2, "de", "der schnelle braune fuchs springt ganz weit weg"),
        (3, "de", None),
        (4, "de", "   "),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    target = d.filter("lang = 'en'")
    out = dsir_weights(d, target, n_buckets=64)
    got = {r.doc_id: r for r in out.collect()}
    # target-like text outweighs off-target text
    assert got[0].log_weight > got[2].log_weight
    assert got[1].log_weight > got[2].log_weight
    # empty / NULL text: zero features, neutral weight
    assert (got[3].n_feats, got[3].log_weight) == (0, 0.0)
    assert (got[4].n_feats, got[4].log_weight) == (0, 0.0)
    # unigrams + bigrams: 9 words -> 9 + 8 features
    assert got[0].n_feats == 17
    # deterministic under repartition
    re_d = d.repartition(7)
    got2 = {r.doc_id: r.log_weight for r in
            dsir_weights(re_d, target, n_buckets=64).collect()}
    assert all(abs(got2[k] - got[k].log_weight) < 1e-12 for k in got2)
    # plan: full codegen, and scoring is a ZERO-shuffle projection —
    # the model is a plan constant, no join, no exchange
    from functime_spark.pipeline.sampling import dsir_score, fit_dsir
    from functime_spark.plans import assert_max_exchanges

    assert python_eval_nodes(out) == []
    model = fit_dsir(d, target, n_buckets=64)
    scored = dsir_score(d, model)
    assert_max_exchanges(scored, 0)
    assert "Join" not in explain_str(scored, "simple")
    got3 = {r.doc_id: r for r in scored.collect()}
    assert all(
        abs(got3[k].log_weight - got[k].log_weight) < 1e-12 for k in got3
    )


def test_corpus_quantiles_matches_numpy(spark):
    """Exact quantiles == numpy linear-interpolation percentiles."""
    import numpy as np

    from functime_spark.pipeline.sampling import corpus_quantiles

    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    d = spark.createDataFrame(
        [(i, "en", v) for i, v in enumerate(vals)],
        "doc_id long, lang string, n_chars long",
    )
    row = corpus_quantiles(d, approx=False).collect()[0]
    assert row.n_docs == len(vals)
    for name, q in (("q25", 25), ("q50", 50), ("q75", 75), ("q95", 95)):
        assert abs(getattr(row, name) - float(np.percentile(vals, q))) < 1e-9
    # bounded state is the DEFAULT: the no-args plan carries the
    # mergeable sketch aggregate, not the unbounded exact percentile
    plan = corpus_quantiles(d)._jdf.queryExecution().toString()
    assert "percentile_approx" in plan or "approx_percentile" in plan


def test_component_size_histogram(spark):
    """Two components of size 3 and 2 -> histogram {3: 1, 2: 1}."""
    from functime_spark.pipeline.dedup import (
        component_size_histogram,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comps = connected_components(pairs)
    got = {
        r.cluster_size: r.n_clusters
        for r in component_size_histogram(comps).collect()
    }
    assert got == {3: 1, 2: 1}


def test_bpe_vocab_table(spark):
    from functime_spark.pipeline.bpe import bpe_vocab

    merges = ["l o", "lo w", "e r"]
    rows = bpe_vocab(merges, spark).orderBy("rank").collect()
    assert [(r.rank, r.token, r.pair) for r in rows] == [
        (1, "lo", "l o"),
        (2, "low", "lo w"),
        (3, "er", "e r"),
    ]


def test_hashed_features_composes_with_embedding_tier(spark):
    """Hashing-trick vectors feed the embedding operators directly:
    near-identical docs land nearest each other under cosine, and
    fit_kmeans accepts the hashed column. Norms: each token
    contributes exactly ±1 to one bucket, so sum(vec^2) <= n_tokens
    with equality iff no bucket collisions cancel."""
    from functime_spark.pipeline.similarity import (
        assign_clusters,
        fit_kmeans,
        hashed_features,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different subject matter entirely here",
        "completely different subject matter entirely now",
    ]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    hv = hashed_features(d, dim=32, normalize=True)
    rows = {r.doc_id: r.hashed_vec for r in hv.collect()}
    import numpy as np

    v = {k: np.asarray(x) for k, x in rows.items()}
    for k in v:
        assert abs(np.linalg.norm(v[k]) - 1.0) < 1e-12
    # doc 0 is closer to 1 (8/9 shared tokens) than to 2
    assert v[0] @ v[1] > v[0] @ v[2]
    assert v[2] @ v[3] > v[2] @ v[1]
    # k-means over the hashed column runs end-to-end
    model = fit_kmeans(hv, k=2, n_iter=2, vec_col="hashed_vec", id_col="doc_id")
    out = {r.vec_id if hasattr(r, "vec_id") else r.doc_id: r.cluster
           for r in assign_clusters(hv, model, vec_col="hashed_vec", id_col="doc_id").collect()}
    assert out[0] == out[1] and out[2] == out[3] and out[0] != out[2]


def test_hashed_features_null_text_and_engines(spark):
    """NULL text -> all-zero vector (and stays zero under normalize);
    md5 and xxhash64 variants both produce integer-valued sums."""
    from functime_spark.pipeline.similarity import hashed_features

    d = spark.createDataFrame(
        [(0, None), (1, "a b c")], "doc_id long, text string"
    )
    for fn in ("xxhash64", "md5"):
        got = {r.doc_id: r.hashed_vec
               for r in hashed_features(d, dim=8, hash_fn=fn, normalize=True).collect()}
        assert got[0] == [0.0] * 8
        assert abs(sum(x * x for x in got[1]) - 1.0) < 1e-12


def test_lang_confusion_matrix(spark):
    """Declared labels vs lexicon predictions: fractions sum to 1 per
    declared language and obvious text is classified correctly."""
    from functime_spark.pipeline.text import lang_confusion

    d = spark.createDataFrame(
        [
            (0, "en", "the and of to in that it was his with"),
            (1, "en", "the and for was not are this but had at"),
            (2, "en", "der und die das nicht von sie ist des sich"),
            (3, "de", "der und die das nicht von sie ist des sich"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = lang_confusion(d).collect()
    m = {(r.lang, r.pred_lang): r for r in rows}
    assert m[("en", "en")].n_docs == 2
    assert m[("en", "de")].n_docs == 1  # the mislabeled German doc
    assert m[("de", "de")].n_docs == 1
    import collections

    per_lang = collections.defaultdict(float)
    for r in rows:
        per_lang[r.lang] += r.frac_of_lang
    for lang, s in per_lang.items():
        assert abs(s - 1.0) < 1e-12, lang


def test_fit_kmeans_empty_input_clear_error(spark):
    import pytest as _pt

    from functime_spark.pipeline.similarity import fit_kmeans

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pt.raises(ValueError, match="empty embedding frame"):
        fit_kmeans(empty, k=4)


def test_pack_shards_shuffle_deterministic_layout(spark):
    """shuffle=True packs in md5(id) order: offsets are the prefix of
    token counts sorted by the hash key, reproducible across runs, and
    every doc keeps its exact token count."""
    import hashlib

    from functime_spark.pipeline.packing import pack_shards

    d = spark.createDataFrame(
        [(i, "tok " * (i + 1)) for i in range(10)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in pack_shards(d, 8, shuffle=True).collect()}
    out2 = {r.doc_id: r for r in pack_shards(d, 8, shuffle=True).collect()}
    assert {k: (v.start_offset, v.shard) for k, v in out.items()} == {
        k: (v.start_offset, v.shard) for k, v in out2.items()
    }

    def key(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    order = sorted(range(10), key=lambda i: (key(i), i))
    run = 0
    for i in order:
        assert out[i].n_tokens == i + 1
        assert out[i].start_offset == run
        run += i + 1
    # hash order differs from id order on any non-trivial input
    assert order != list(range(10))


def test_semantic_decontaminate_flags_probe_members(spark):
    """Every probe vector is (trivially) contaminated against itself
    at cosine 1; a corpus vector nearly parallel to a probe is flagged
    while orthogonal ones are not."""
    from functime_spark.pipeline.dedup import semantic_decontaminate

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.04, 0.0, 0.0]
    orth = [0.0, 0.0, 1.0, 0.0]
    emb = spark.createDataFrame(
        [(0, base), (1, near), (2, orth)],
        "vec_id long, embedding array<double>",
    )
    probe = spark.createDataFrame(
        [(100, base)], "vec_id long, embedding array<double>"
    )
    got = {
        (r.corpus_id, r.probe_id)
        for r in semantic_decontaminate(emb, probe, threshold=0.95).collect()
    }
    assert (0, 100) in got and (1, 100) in got
    assert all(c != 2 for c, _ in got)


def test_domain_stats_aggregates_per_canonical_host(spark):
    """Mixed-case hosts and default ports fold into one domain; dup
    share counts exact text duplicates within the domain."""
    from functime_spark.pipeline.text import domain_stats

    d = spark.createDataFrame(
        [
            (0, "same text", "HTTPS://A.com:443/x"),
            (1, "same text", "https://a.COM/y"),
            (2, "other text", "https://a.com/z"),
            (3, "b text", "http://b.org:80/"),
        ],
        "doc_id long, text string, url string",
    )
    got = {r.domain: r for r in domain_stats(d).collect()}
    assert set(got) == {"a.com", "b.org"}
    assert got["a.com"].n_docs == 3 and got["a.com"].n_unique == 2
    assert abs(got["a.com"].dup_share - (1 - 2 / 3)) < 1e-12
    assert got["b.org"].n_docs == 1 and got["b.org"].dup_share == 0.0


def test_corpus_quantiles_approx_within_rank_error(spark):
    """The sketch path returns values bracketed by the exact data
    range and close to the exact quantiles on a smooth distribution."""
    from functime_spark.pipeline.sampling import corpus_quantiles

    d = spark.createDataFrame(
        [(i, "en", i) for i in range(1000)], "doc_id long, lang string, n_chars long"
    )
    exact = corpus_quantiles(d, approx=False).collect()[0]
    approx = corpus_quantiles(d).collect()[0]
    for name in ("q25", "q50", "q75", "q95"):
        assert abs(getattr(approx, name) - getattr(exact, name)) <= 15


def test_split_corpus_deterministic_and_exhaustive(spark):
    """Labels are a pure function of id (stable under repartition),
    cover every row, and hit fractions within binomial noise."""
    from functime_spark.pipeline.sampling import split_corpus

    d = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    a = {r.doc_id: r.split for r in split_corpus(d).collect()}
    b = {r.doc_id: r.split for r in split_corpus(d.repartition(7)).collect()}
    assert a == b and len(a) == 5000
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 4700 and 20 < c["val"] < 120 and 20 < c["test"] < 120


def test_materialize_shards_roundtrip(spark):
    """Concatenated shard text splits back into the original documents
    in offset order; token sums match the packing."""
    from functime_spark.pipeline.packing import materialize_shards, pack_shards

    d = spark.createDataFrame(
        [(i, f"doc{i} " * (i + 1)) for i in range(8)], "doc_id long, text string"
    )
    packed = pack_shards(d, 6)
    out = {r.shard: r for r in materialize_shards(d, packed).collect()}
    offsets = {r.doc_id: r for r in packed.collect()}
    texts = {r.doc_id: r.text for r in d.collect()}
    for shard, row in out.items():
        members = sorted(
            (r.doc_id for r in offsets.values() if r.shard == shard),
            key=lambda i: offsets[i].start_offset,
        )
        assert row.text == "\n\n".join(texts[i] for i in members)
        assert row.n_docs == len(members)
        assert row.n_tokens == sum(offsets[i].n_tokens for i in members)


def test_filter_by_language_keeps_all_columns(spark):
    from functime_spark.pipeline.text import filter_by_language

    d = spark.createDataFrame(
        [
            (0, "x", "the and of to in that it was"),
            (1, "y", "der und die das nicht von sie ist"),
            (2, "z", "qqq zzz www rrr ttt yyy"),
        ],
        "doc_id long, extra string, text string",
    )
    out = {r.doc_id: r for r in filter_by_language(d, ("en",)).collect()}
    assert set(out) == {0} and out[0].extra == "x"
    both = {r.doc_id for r in filter_by_language(d, ("en", "de")).collect()}
    assert both == {0, 1}


def test_sample_per_group_exact_and_stable(spark):
    from functime_spark.pipeline.sampling import sample_per_group

    d = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(300)],
        "doc_id long, lang string",
    )
    a = {r.doc_id for r in sample_per_group(d, 10).collect()}
    b = {r.doc_id for r in sample_per_group(d.repartition(7), 10).collect()}
    assert a == b and len(a) == 20  # 10 per stratum, 2 strata
    from collections import Counter

    langs = Counter("en" if i % 3 else "fr" for i in a)
    assert langs == {"en": 10, "fr": 10}


def test_exact_dedup_incremental_store_flow(spark):
    """Batch 1 builds the store; batch 2's duplicates of batch 1 (and
    its own internal dups) are dropped; the store grows by exactly the
    kept texts."""
    from functime_spark.pipeline.dedup import exact_dedup_incremental

    b1 = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], "doc_id long, text string"
    )
    kept1, store1 = exact_dedup_incremental(b1)
    assert {r.doc_id for r in kept1.collect()} == {0, 1}
    assert store1.count() == 2

    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    kept2, store2 = exact_dedup_incremental(b2, store1)
    assert {r.doc_id for r in kept2.collect()} == {11, 13}
    assert store2.count() == 4


def test_clean_corpus_language_stage(spark):
    from functime_spark.pipeline.clean import clean_corpus

    d = spark.createDataFrame(
        [
            (0, "the cat and the dog sat on the mat with a hat and a bat "
                "that was it for the day so they went to sleep in the sun"),
            (1, "der hund und die katze sind in dem haus von der frau mit "
                "dem kind und sie ist nicht zu dem mann gegangen heute"),
        ],
        "doc_id long, text string",
    )
    clean, report = clean_corpus(
        d, use_gopher=False, dedup="none", languages=("en",)
    )
    assert {r.doc_id for r in clean.collect()} == {0}
    stages = {r.stage for r in report.collect()}
    assert "language" in stages


def test_semantic_decontaminate_dim_mismatch_raises(spark):
    import pytest as _pt

    from functime_spark.pipeline.dedup import semantic_decontaminate

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    probe = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pt.raises(ValueError, match="same model/dimension"):
        semantic_decontaminate(emb, probe)
    # empty probe: no contamination found, not a crash
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_decontaminate(emb, empty).count() == 0


def test_semantic_decontaminate_plans_with_two_jobs(spark):
    """Building the frame runs one `first()` probe per side for its
    dimension, shared by the mismatch check and the plane draw: on
    single-partition inputs plan building runs 2 jobs (4 before the
    probe was shared), and embedding_near_dups 1."""
    from functime_spark.pipeline.dedup import (
        embedding_near_dups,
        semantic_decontaminate,
    )

    # the job bounds hold for single-partition inputs: a first() over
    # empty leading partitions scans on in further jobs of its own
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5), 0.5]) for i in range(12)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    probe = spark.createDataFrame(
        [(100, [1.0, 1.0, 1.0, 0.5])], "vec_id long, embedding array<double>"
    ).coalesce(1)
    sc = spark.sparkContext

    def plan_jobs(group, build):
        sc.setJobGroup(group, "plan-time jobs")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert len(plan_jobs(
        "test-decontam-plan", lambda: semantic_decontaminate(emb, probe)
    )) <= 2
    assert len(plan_jobs(
        "test-near-dups-plan", lambda: embedding_near_dups(emb)
    )) <= 1


def test_domain_stats_pathless_query_and_port(spark):
    """Path-less URLs with query strings and non-default ports roll
    into the same registered-host row."""
    from functime_spark.pipeline.text import domain_stats

    d = spark.createDataFrame(
        [
            (0, "t0", "https://a.com?page=2"),
            (1, "t1", "https://a.com/x"),
            (2, "t2", "https://a.com:8443/y"),
        ],
        "doc_id long, text string, url string",
    )
    got = {r.domain: r for r in domain_stats(d).collect()}
    assert set(got) == {"a.com"} and got["a.com"].n_docs == 3


def test_materialize_shards_zero_token_tie_break(spark):
    """Docs sharing a start_offset (zero-token docs) concatenate in id
    order, matching the oracle's ORDER BY (so, doc_id)."""
    from functime_spark.pipeline.packing import materialize_shards, pack_shards

    d = spark.createDataFrame(
        [(0, "zz empty-after-me"), (1, ""), (2, " "), (3, "aa end")],
        "doc_id long, text string",
    )
    packed = pack_shards(d, 100)
    row = materialize_shards(d, packed).collect()[0]
    assert row.text == "zz empty-after-me\n\n\n\n \n\naa end"
    assert row.n_docs == 4


# ---------------------------------------------------------------------------
# round-4 late additions: priority dedup, corpus diversity, balanced sample
# ---------------------------------------------------------------------------


def test_exact_dedup_priority_semantics(spark):
    """Highest-priority source wins per distinct text; unlisted and
    NULL sources rank after every listed one; ties break on min id."""
    from functime_spark.pipeline.dedup import exact_dedup_priority

    rows = [
        (1, "same text", "crawl"),
        (2, "same text", "curated"),     # listed first -> wins despite higher id
        (3, "same text", None),
        (4, "other text", "crawl"),      # unlisted source, unique text
        (5, "third", "web"),
        (6, "third", "web"),             # same rank -> min id wins
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: r
        for r in exact_dedup_priority(docs, ["curated", "web"]).collect()
    }
    assert set(out) == {2, 4, 5}
    assert out[2].source == "curated" and out[2].n_copies == 3
    assert out[4].n_copies == 1
    assert out[5].source == "web" and out[5].n_copies == 2


def test_ngram_diversity_hand_computed(spark):
    """distinct-n / total-n per (group, n) on a corpus small enough to
    count by hand; empty docs contribute nothing."""
    from functime_spark.pipeline.text import ngram_diversity

    docs = spark.createDataFrame(
        [
            (1, "a b a b", "en"),
            (2, "a b c", "en"),
            (3, "", "en"),
            (4, "x x", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {
        (r.lang, r.n): (r.total_ngrams, r.distinct_ngrams)
        for r in ngram_diversity(docs).collect()
    }
    # en unigrams: a b a b | a b c -> 7 total, {a,b,c}=3 distinct
    assert got[("en", 1)] == (7, 3)
    # en bigrams: 'a b','b a','a b' | 'a b','b c' -> 5 total, 3 distinct
    assert got[("en", 2)] == (5, 3)
    # en trigrams: 'a b a','b a b' | 'a b c' -> 3 total, 3 distinct
    assert got[("en", 3)] == (3, 3)
    # de: 'x x' -> unigrams (2,1), bigrams (1,1); no trigram rows
    assert got[("de", 1)] == (2, 1)
    assert got[("de", 2)] == (1, 1)
    assert ("de", 3) not in got


def test_cluster_balanced_sample_caps_and_determinism(spark):
    from functime_spark.pipeline.sampling import cluster_balanced_sample
    from functime_spark.pipeline.similarity import fit_kmeans
    from functime_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    model = fit_kmeans(emb, k=4, n_iter=3)
    a = cluster_balanced_sample(emb, model, per_cluster=5)
    b = cluster_balanced_sample(emb, model, per_cluster=5)
    rows_a = sorted((r.vec_id, r.cluster) for r in a.collect())
    rows_b = sorted((r.vec_id, r.cluster) for r in b.collect())
    assert rows_a == rows_b  # deterministic
    from collections import Counter

    per = Counter(c for _, c in rows_a)
    assert all(v <= 5 for v in per.values())
    assert len(per) >= 2  # spread over multiple clusters


def test_lsh_tuning_math():
    """The banding S-curve: threshold ~ (1/b)^(1/r); collision
    probability is 0 at s=0, 1 at s=1, ~1/2 near the threshold, and
    monotone in s; invalid band splits raise."""
    import pytest as _pytest

    from functime_spark.pipeline.dedup import lsh_tuning

    t = lsh_tuning(n_hashes=32, bands=8)
    assert t["rows_per_band"] == 4
    assert abs(t["threshold"] - (1 / 8) ** 0.25) < 1e-12
    p = t["collision_prob"]
    assert p(0.0) == 0.0 and p(1.0) == 1.0
    assert 0.3 < p(t["threshold"]) < 0.7
    ss = [p(s / 10) for s in range(11)]
    assert all(a <= b + 1e-12 for a, b in zip(ss, ss[1:]))
    with _pytest.raises(ValueError, match="divide"):
        lsh_tuning(n_hashes=32, bands=7)


def test_dedup_lines_within_doc(spark):
    """First-occurrence order must be preserved and only WITHIN-doc
    repeats removed — cross-document repeats stay (that is
    line_dedup's job)."""
    from functime_spark.pipeline.dedup import dedup_lines_within_doc

    d = spark.createDataFrame(
        [
            (1, "nav\nbody one\nnav\nfooter\nfooter"),
            (2, "nav\nbody two"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines_within_doc(d).collect()}
    assert out[1]["text"] == "nav\nbody one\nfooter"
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 3
    assert out[2]["text"] == "nav\nbody two"  # cross-doc repeat kept
    # stream legality: zero-shuffle projection
    from functime_spark.plans import count_exchanges, python_eval_nodes

    plan_df = dedup_lines_within_doc(d)
    assert count_exchanges(plan_df) == 0
    assert python_eval_nodes(plan_df) == []


def test_materialize_fallback_path(spark, monkeypatch):
    """The Spark-Connect seam: with the fallback forced (no
    localCheckpoint RPC), materialize() must still pin values via
    persist + eager count, and the heavy users (LSH candidates,
    connected components, LM tables) must stay correct through it."""
    from functime_spark import materialize as M
    from functime_spark.pipeline.dedup import (
        connected_components,
        minhash_dedup,
    )
    from functime_spark.pipeline.lm import ngram_lm_score

    rows = [
        (i, "the quick brown fox jumps over the lazy dog " * 3 + str(i % 4))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    baseline_pairs = minhash_dedup(docs, threshold=0.3).count()
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (10, 9), (20, 20)], "id_a long, id_b long"
    )
    baseline_cc = sorted(
        tuple(r) for r in connected_components(edges).collect()
    )
    baseline_lm = ngram_lm_score(docs).count()

    monkeypatch.setattr(M, "FORCE_FALLBACK", True)
    probe = M.materialize(docs.selectExpr("doc_id"))
    assert probe.count() == 40
    assert minhash_dedup(docs, threshold=0.3).count() == baseline_pairs
    assert (
        sorted(tuple(r) for r in connected_components(edges).collect())
        == baseline_cc
    )
    assert ngram_lm_score(docs).count() == baseline_lm


def test_broadcast_value_fallback_path(spark, events, monkeypatch):
    """The second Connect seam: with sc.broadcast forced off, model
    state rides the pickled closure — forecast recursion and the BPE
    tokenizer must produce identical results."""
    from functime_spark import compat as C
    from functime_spark.forecasting.linear import linear_model

    baseline = (
        linear_model(freq="1h", lags=4)
        .fit(events)
        .predict(3)
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    monkeypatch.setattr(C, "FORCE_PLAIN", True)
    probe = C.broadcast_value(spark, {"k": 1})
    assert type(probe).__name__ == "_PlainValue" and probe.value == {"k": 1}
    fallback = (
        linear_model(freq="1h", lags=4)
        .fit(events)
        .predict(3)
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(baseline, fallback)


def test_materialize_propagates_real_failures_on_classic(spark):
    """ADVICE r6: on a classic session a genuine job failure inside
    the eager checkpoint must PROPAGATE — not be swallowed and
    silently re-executed via the parquet fallback (doubling work and
    relocating the error)."""
    import pytest
    from pyspark.sql import functions as F

    from functime_spark import materialize as M

    failing = spark.range(3).select(
        F.assert_true(F.col("id") < 0).alias("boom")
    )
    with pytest.raises(Exception) as exc_info:
        M.materialize(failing)
    # the original assertion error surfaces, no parquet retry happened
    assert "assert" in str(exc_info.value).lower() or "'(id < 0)'" in str(
        exc_info.value
    )

    # capability errors are still classified as fallback-eligible
    assert M._is_unsupported_rpc(NotImplementedError("x"))
    assert M._is_unsupported_rpc(RuntimeError("UNIMPLEMENTED: rpc"))
    assert M._is_unsupported_rpc(Exception("localCheckpoint is not supported"))
    assert not M._is_unsupported_rpc(RuntimeError("DIVIDE_BY_ZERO"))
    # a classic session is never classified as Connect
    assert not M._is_connect(spark)


def test_media_real_codecs_end_to_end(spark):
    """VERDICT r6 #8: the decoder seam proven against REAL formats
    in-container — a pure-Python Netpbm (P6) image and a stdlib-wave
    PCM file decode end-to-end through extract_features_media, the
    pooled features match a direct numpy computation, and the PPM
    nearest-neighbor resize round-trips through resize_media."""
    import io
    import wave

    import numpy as np

    from functime_spark.pipeline.multimodal import (
        decode_ppm,
        decode_wav,
        extract_features_media,
        pool_features,
        register_decoder,
        resize_media,
    )

    # a 4x2 P6 image with known pixels (+ a header comment)
    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3) * 10
    ppm = b"P6\n# test\n4 2\n255\n" + px.tobytes()
    d = decode_ppm(ppm)
    assert d["width"] == 4 and d["height"] == 2 and d["mode"] == "rgb"
    np.testing.assert_array_equal(d["array"], px)

    # a 50-sample int16 mono WAV via the stdlib encoder
    samples = (np.sin(np.linspace(0, 6, 50)) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(samples.tobytes())
    wav = buf.getvalue()
    dw = decode_wav(wav)
    assert dw["rate"] == 8000 and dw["channels"] == 1
    np.testing.assert_array_equal(dw["array"], samples)

    media = spark.createDataFrame(
        [(1, "image", bytearray(ppm), "{}"), (2, "audio", bytearray(wav), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    # per-kind decode: route by registered name
    img_feats = {
        r["media_id"]: r["feature"]
        for r in extract_features_media(
            media.filter("kind = 'image'"), dim=6, decoder="ppm"
        ).collect()
    }
    np.testing.assert_allclose(
        img_feats[1], pool_features(px, 6), rtol=0, atol=0
    )
    wav_feats = {
        r["media_id"]: r["feature"]
        for r in extract_features_media(
            media.filter("kind = 'audio'"), dim=6, decoder="wav"
        ).collect()
    }
    np.testing.assert_allclose(
        wav_feats[2], pool_features(samples, 6), rtol=0, atol=0
    )

    # a user-registered callable decoder rides the same seam
    register_decoder(
        "first_bytes", lambda p: {"array": np.frombuffer(p[:8], dtype=np.uint8)}
    )
    rows = extract_features_media(media, dim=4, decoder="first_bytes").collect()
    assert len(rows) == 2 and all(len(r["feature"]) == 4 for r in rows)

    # REAL resize: 4x2 -> 2x1 nearest-neighbor, re-encoded as P6
    resized = resize_media(
        media.filter("kind = 'image'"), width=2, height=1, decoder="ppm"
    ).collect()[0]
    rd = decode_ppm(bytes(resized["payload"]))
    assert rd["width"] == 2 and rd["height"] == 1
    np.testing.assert_array_equal(rd["array"], px[[0]][:, [0, 2]])

    # unregistered codec names still raise, naming the seam
    with pytest.raises(NotImplementedError, match="register_decoder"):
        extract_features_media(media, decoder="pil")
    with pytest.raises(NotImplementedError, match="register_resizer"):
        resize_media(media, 2, 2, decoder="pil")

    # WAV header magic survived the Spark binary column round-trip
    assert bytes(media.filter("media_id = 2").first()["payload"])[:4] == b"RIFF"


def test_media_png_bmp_decoders(spark):
    """The stdlib-only PNG (zlib inflate + all five scanline filters)
    and BMP (bottom-up padded BGR) decoders reproduce known pixels
    exactly and run end-to-end through extract_features_media."""
    import struct
    import zlib

    import numpy as np

    from functime_spark.pipeline.multimodal import (
        decode_bmp,
        decode_png,
        extract_features_media,
        pool_features,
    )

    rng = np.random.default_rng(17)
    h, w, ch = 5, 4, 3
    px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)

    # --- encode a PNG exercising one of EACH filter type per row ---
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int32)
    raw = b""
    prev = np.zeros(stride, dtype=np.int32)
    for y, f in zip(range(h), (0, 1, 2, 3, 4)):  # None/Sub/Up/Avg/Paeth
        s = flat[y]
        enc = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            a = s[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[i] = (s[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc.astype(np.uint8))
        prev = s
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    d = decode_png(png)
    assert d["width"] == w and d["height"] == h and d["mode"] == "rgb"
    np.testing.assert_array_equal(d["array"], px)

    # --- encode a bottom-up 24-bit BMP with 4-byte row padding ---
    pad = (4 - (w * 3) % 4) % 4
    body = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y][:, [2, 1, 0]].tobytes()  # RGB -> BGR
        body += row + b"\x00" * pad
    offset = 14 + 40
    bmp = (
        b"BM"
        + struct.pack("<IHHI", offset + len(body), 0, 0, offset)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    db = decode_bmp(bmp)
    assert db["width"] == w and db["height"] == h
    np.testing.assert_array_equal(db["array"], px)

    # --- end-to-end through the Arrow batch path ---
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), "{}"), (2, "image", bytearray(bmp), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    feats = {
        r["media_id"]: r["feature"]
        for r in extract_features_media(
            media.filter("media_id = 1"), dim=5, decoder="png"
        ).collect()
    }
    np.testing.assert_allclose(feats[1], pool_features(px, 5), rtol=0, atol=0)
    featsb = {
        r["media_id"]: r["feature"]
        for r in extract_features_media(
            media.filter("media_id = 2"), dim=5, decoder="bmp"
        ).collect()
    }
    np.testing.assert_allclose(featsb[2], pool_features(px, 5), rtol=0, atol=0)

    # malformed payloads fail loudly, not silently
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png")
    with pytest.raises(ValueError, match="magic"):
        decode_bmp(b"nope")


def test_media_jpeg_codec_roundtrip_and_cross_implementation(spark):
    """The pure-Python baseline JPEG codec (pipeline/jpeg.py): encoder
    -> decoder roundtrips bound the error by the format's own
    quantization (4:4:4, 4:2:0, restart markers, grayscale), and BOTH
    directions cross-check against the JVM's completely independent
    javax.imageio codec — our decoder reads Java-encoded files, Java
    reads ours."""
    import numpy as np
    import pytest

    from functime_spark.pipeline.jpeg import decode_jpeg, encode_jpeg
    from functime_spark.pipeline.multimodal import extract_features_media

    rng = np.random.default_rng(7)
    h, w = 45, 61  # deliberately not multiples of 8/16
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))], axis=-1
    )
    img = np.clip(img + rng.normal(0, 4, img.shape), 0, 255).astype(np.uint8)

    def psnr(a, b):
        e = a.astype(float) - b.astype(float)
        return 10 * np.log10(255.0**2 / np.mean(e * e))

    for sub in ("444", "420"):
        for ri in (0, 3):
            payload = encode_jpeg(img, quality=92, subsample=sub,
                                  restart_interval=ri)
            d = decode_jpeg(payload)
            assert (d["width"], d["height"], d["mode"]) == (w, h, "rgb")
            assert psnr(d["array"], img) > 28.0, (sub, ri)
    # 4:2:0 must actually subsample (smaller stream than 4:4:4)
    assert len(encode_jpeg(img, 92, "420")) < len(encode_jpeg(img, 92, "444"))

    gray = (yy * 255 / h).astype(np.uint8)
    dg = decode_jpeg(encode_jpeg(gray, quality=85))
    assert dg["mode"] == "gray" and psnr(dg["array"], gray) > 35.0

    # --- cross-implementation via the JVM's javax.imageio ---
    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    bi = BI(w, h, BI.TYPE_INT_RGB)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in img[y, x])
            bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.javax.imageio.ImageIO.write(bi, "jpg", baos)
    java_jpeg = bytes(baos.toByteArray())
    d = decode_jpeg(java_jpeg)  # our decoder, Java's encoder
    assert (d["width"], d["height"]) == (w, h)
    assert psnr(d["array"], img) > 25.0

    # TEXTURED content (mid/high-frequency coefficients live in every
    # zigzag position): Java decodes OUR stream and the two decoders
    # must agree to sub-LSB level on identical input — this is the
    # assertion that catches dequantization-order bugs that smooth
    # gradients mask (a zigzag/natural quant-table mixup decodes
    # smooth ramps fine but textured blocks at ~16 dB)
    tex = np.clip(
        128.0 + 60.0 * np.sin(xx / 2.5) * np.cos(yy / 3.1)
        + rng.normal(0, 18, (h, w)), 0, 255,
    )[..., None].repeat(3, axis=-1).astype(np.uint8)
    tex[..., 1] = np.roll(tex[..., 1], 3, axis=1)
    ours = encode_jpeg(tex, quality=90)  # Java's decoder, our encoder
    bais = jvm.java.io.ByteArrayInputStream(ours)
    jimg = jvm.javax.imageio.ImageIO.read(bais)
    assert jimg.getWidth() == w and jimg.getHeight() == h
    got = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            v = jimg.getRGB(x, y)
            got[y, x] = [(v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF]
    mine = decode_jpeg(ours)["array"]
    assert psnr(got, mine) > 45.0  # decoder agreement on one stream
    assert psnr(got, tex) > 28.0 and psnr(mine, tex) > 28.0

    # --- end-to-end through the Arrow mapInPandas seam ---
    media = spark.createDataFrame(
        [(1, "image", bytearray(ours), "{}"),
         (2, "image", bytearray(java_jpeg), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    rows = extract_features_media(media, dim=6, decoder="jpeg").collect()
    assert len(rows) == 2 and all(len(r["feature"]) == 6 for r in rows)

    # malformed / unsupported payloads fail loudly
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    # a baseline stream masquerading as SOF2 routes to the progressive
    # engine, whose scan validation rejects the full-band interleaved
    # scan (progressive DC scans must have Se=0)
    prog = bytearray(ours)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(prog))
    # arithmetic/hierarchical SOFs stay clearly rejected
    sof3 = bytearray(ours)
    sof3[sof + 1] = 0xC3
    with pytest.raises(ValueError, match="SOF0/SOF1"):
        decode_jpeg(bytes(sof3))
    # entropy stream cut but EOI present (common corrupt-scrape shape):
    # must surface the documented ValueError, NOT the internal
    # _MarkerHit control-flow exception (r7 ADVICE finding)
    sos = bytes(ours).find(b"\xff\xda")
    assert sos > 0
    cut = bytes(ours)[: sos + 40] + b"\xff\xd9"
    with pytest.raises(ValueError, match="truncated JPEG stream"):
        decode_jpeg(cut)
    # plain truncation (no EOI) keeps the same contract
    with pytest.raises(ValueError, match="truncated JPEG stream"):
        decode_jpeg(bytes(ours)[: sos + 40])
    # a scan referencing a never-defined DQT table id must surface the
    # documented ValueError, not a raw dict KeyError (r8 ADVICE): SOF0
    # component qsel bytes live at sof+12 / sof+15 / sof+18
    badq = bytearray(ours)
    badq[sof + 12] = 3  # DQT id 3 never defined in encode_jpeg output
    with pytest.raises(ValueError, match="undefined quantization/Huffman"):
        decode_jpeg(bytes(badq))
    # non-dividing sampling factors (legal T.81, unsupported here)
    # are rejected at SOF with a clear message, not a shape error.
    # SOF0 layout: FF C0 len(2) prec(1) h(2) w(2) ncomp(1) then
    # (id, sampling, qsel) per component -> comp1/comp2 sampling bytes
    # are sof+14 / sof+17. Cb h=2 with Cr h=3 gives hmax=3 and
    # 3 % 2 != 0 for Cb — legal per T.81, not integer-upsampleable.
    bad = bytearray(ours)
    bad[sof + 14] = (2 << 4) | (bad[sof + 14] & 0x0F)
    bad[sof + 17] = (3 << 4) | (bad[sof + 17] & 0x0F)
    with pytest.raises(ValueError, match="unsupported chroma sampling"):
        decode_jpeg(bytes(bad))


def test_media_mjpeg_video_and_frame_sampling(spark):
    """REAL video path: MJPEG-AVI (RIFF container + per-frame baseline
    JPEG) roundtrips through the vendored writer/reader; sample_frames
    decodes only every Nth frame and emits standalone JPEG payloads
    through mapInPandas; the 'mjpeg' decoder seam pools the first
    frame."""
    import numpy as np
    import pytest

    from functime_spark.pipeline.jpeg import decode_jpeg
    from functime_spark.pipeline.mjpeg import (
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )
    from functime_spark.pipeline.multimodal import (
        extract_features_media,
        sample_frames,
    )

    h, w, n = 32, 48, 7
    yy, xx = np.mgrid[0:h, 0:w]
    frames = [
        np.clip(
            np.stack(
                [xx * 200 / w + 5 * i, yy * 200 / h,
                 np.full((h, w), 30 + 10 * i)], axis=-1,
            ), 0, 255,
        ).astype(np.uint8)
        for i in range(n)
    ]
    avi = encode_mjpeg_avi(frames, fps=12, quality=90)

    d = decode_mjpeg_avi(avi)
    assert (d["width"], d["height"], d["fps"], d["n_frames"]) == (w, h, 12, n)
    for got, want in zip(d["frames"], frames):
        assert np.abs(got.astype(float) - want.astype(float)).mean() < 6.0
    # frame sampling never decodes skipped frames
    d3 = decode_mjpeg_avi(avi, every_n=3)
    assert len(d3["frames"]) == 3 and d3["n_frames"] == n

    media = spark.createDataFrame(
        [(1, "video", bytearray(avi), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    rows = sample_frames(media, every_n=3).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in rows] == [0, 3, 6]
    assert all(r["n_frames"] == n for r in rows)
    for r in rows:
        fd = decode_jpeg(bytes(r["payload"]))  # standalone JPEG per frame
        assert (fd["width"], fd["height"]) == (w, h)
        base = frames[r["frame_idx"]]
        assert np.abs(
            fd["array"].astype(float) - base.astype(float)
        ).mean() < 8.0

    # the decoder seam treats video like any other payload
    feats = extract_features_media(media, dim=6, decoder="mjpeg").collect()
    assert len(feats) == 1 and len(feats[0]["feature"]) == 6

    with pytest.raises(ValueError, match="RIFF"):
        decode_mjpeg_avi(b"not an avi")


def test_media_audio_features_closed_form(spark):
    """extract_audio_features against closed-form signals: a 1 kHz
    tone's spectral centroid/rolloff are ~1 kHz, its ZCR is 2f/sr and
    RMS a/sqrt(2), tonal flatness ~0 vs white-noise flatness > 0.5;
    stereo downmix matches mono; the whole set rides one mapInPandas
    pass over stdlib-WAV payloads."""
    import io
    import wave

    import numpy as np

    from functime_spark.pipeline.audio import (
        audio_features_from_signal,
        extract_audio_features,
    )

    rate = 8000
    t = np.arange(rate * 2) / rate
    tone = (0.5 * np.sin(2 * np.pi * 1000 * t) * 32767).astype(np.int16)
    rng = np.random.default_rng(3)
    noise = (rng.uniform(-0.9, 0.9, rate) * 32767).astype(np.int16)

    f = audio_features_from_signal(tone, rate)
    assert abs(f["spectral_centroid_hz"] - 1000.0) < 5.0
    assert abs(f["zero_crossing_rate"] - 0.25) < 0.005
    assert abs(f["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert f["spectral_flatness"] < 0.05
    assert abs(f["spectral_rolloff_hz"] - 1000.0) < 40.0
    assert len(f["mfcc"]) == 13
    fn = audio_features_from_signal(noise, rate)
    assert fn["spectral_flatness"] > 0.5
    assert fn["spectral_centroid_hz"] > 1500.0

    # stereo interleave downmixes to the mono result
    stereo = np.empty(2 * len(tone), dtype=np.int16)
    stereo[0::2] = tone
    stereo[1::2] = tone
    fs = audio_features_from_signal(stereo, rate, channels=2)
    assert abs(fs["spectral_centroid_hz"] - f["spectral_centroid_hz"]) < 1e-9

    def wav_bytes(samples, channels=1):
        bio = io.BytesIO()
        with wave.open(bio, "wb") as wf:
            wf.setnchannels(channels)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(samples.tobytes())
        return bio.getvalue()

    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav_bytes(tone)), "{}"),
         (2, "audio", bytearray(wav_bytes(noise)), "{}"),
         (3, "audio", bytearray(wav_bytes(stereo, 2)), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    rows = {
        r["media_id"]: r
        for r in extract_audio_features(media, decoder="wav").collect()
    }
    assert abs(rows[1]["spectral_centroid_hz"] - f["spectral_centroid_hz"]) < 1e-9
    assert abs(rows[2]["spectral_flatness"] - fn["spectral_flatness"]) < 1e-9
    assert abs(rows[3]["duration_s"] - 2.0) < 1e-9
    assert len(rows[1]["mfcc"]) == 13


def test_webdataset_tar_shard_roundtrip(spark, tmp_path):
    """WebDataset-style tar shards (stdlib tarfile in mapInPandas):
    write groups same-key members consecutively in one shard with a
    deterministic hash assignment, the manifest counts match, stdlib
    tarfile reads the shards directly, and read_webdataset restores
    every (key, ext, payload) row byte-for-byte — including real JPEG
    payloads decodable after the round-trip."""
    import tarfile as _tarfile

    import numpy as np

    from functime_spark.pipeline.jpeg import decode_jpeg, encode_jpeg
    from functime_spark.pipeline.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    rng = np.random.default_rng(5)
    rows = []
    imgs = {}
    for k in range(20):
        img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        imgs[str(k)] = img
        rows.append((str(k), "jpg", bytearray(encode_jpeg(img, quality=95))))
        rows.append((str(k), "json", bytearray(b'{"id": %d}' % k)))
    samples = spark.createDataFrame(
        rows, "key string, ext string, payload binary"
    )
    out_dir = str(tmp_path / "wds")
    manifest = write_webdataset(
        samples, out_dir, n_shards=4, key_col="key"
    ).collect()
    assert sum(r["n_members"] for r in manifest) == 40
    assert 1 <= len(manifest) <= 4
    # n_raw_bytes is the EXACT uncompressed tar stream size (members
    # + end-of-archive trailer + record blocking) — for an
    # uncompressed write it must equal the on-disk file size
    import os.path as _osp

    for r in manifest:
        assert r["n_raw_bytes"] == r["n_bytes"] == _osp.getsize(r["shard"])

    # WebDataset contract: a sample's members are CONSECUTIVE entries
    # of one shard
    seen_keys = set()
    for r in manifest:
        with _tarfile.open(r["shard"]) as tf:
            names = [m.name for m in tf.getmembers()]
        bases = [n.rpartition(".")[0] for n in names]
        for i in range(0, len(bases), 2):
            assert bases[i] == bases[i + 1]  # jpg+json adjacent
        assert set(bases).isdisjoint(seen_keys)  # a key lives in ONE shard
        seen_keys.update(bases)
    assert seen_keys == set(imgs)

    # full read-back: payload bytes identical, JPEGs still decode
    back = read_webdataset(spark, out_dir).collect()
    assert len(back) == 40
    by = {(r["key"], r["ext"]): bytes(r["payload"]) for r in back}
    for k, img in imgs.items():
        dec = decode_jpeg(by[(k, "jpg")])
        assert dec["array"].shape == img.shape
        assert by[(k, "json")] == b'{"id": %d}' % int(k)

    with pytest.raises(ValueError, match="payload"):
        write_webdataset(samples.drop("payload"), out_dir)

    # the write runs exactly once inside the call: the returned
    # manifest is local, so re-actions can't re-run the shard write
    # (r7 ADVICE). Probe by deleting a shard and re-collecting.
    mdf = write_webdataset(samples, str(tmp_path / "wds_once"), n_shards=2)
    assert mdf.count() == len(mdf.collect())  # two actions, no error
    import os as _os

    first = sorted(_os.listdir(str(tmp_path / "wds_once")))
    for f in first:
        _os.remove(str(tmp_path / "wds_once" / f))
    mdf.collect()  # would re-write the shards if lineage were live
    assert _os.listdir(str(tmp_path / "wds_once")) == []

    # shard-size scale wall: 1-shard write over a tiny max_shard_bytes
    # warns with an n_shards suggestion; 'error' raises; 'ignore' is
    # silent (binaryFile 2 GiB bound documented in the docstring)
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        write_webdataset(samples, str(tmp_path / "wds_wall"), n_shards=1,
                         max_shard_bytes=1024)
    assert any("n_shards>=" in str(w.message) and "2 GiB" in str(w.message)
               for w in caught)
    with pytest.raises(ValueError, match="max_shard_bytes"):
        write_webdataset(samples, str(tmp_path / "wds_wall2"), n_shards=1,
                         max_shard_bytes=1024, scale_wall="error")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        write_webdataset(samples, str(tmp_path / "wds_wall3"), n_shards=1,
                         max_shard_bytes=1024, scale_wall="ignore")
    assert not [w for w in caught if "max_shard_bytes" in str(w.message)]


def test_jpeg_codec_property_sizes_and_content():
    """Hypothesis sweep: any uint8 image (1x1 .. 40x40, gray/RGB,
    smooth or noisy, 4:4:4 or 4:2:0, quality 50-95) roundtrips through
    the vendored codec with the right shape/mode and without error;
    reconstruction stays within the generous bound JPEG itself
    guarantees for 8-bit content."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from functime_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        rgb=st.booleans(),
        sub=st.sampled_from(["444", "420"]),
        quality=st.integers(50, 95),
        seed=st.integers(0, 2**31 - 1),
        smooth=st.booleans(),
    )
    def roundtrip(h, w, rgb, sub, quality, seed, smooth):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if rgb else (h, w)
        if smooth:
            yy, xx = np.mgrid[0:h, 0:w]
            base = (xx * 7 + yy * 5) % 256
            img = (np.stack([base, base, base], axis=-1) if rgb else base
                   ).astype(np.uint8)
        else:
            img = rng.integers(0, 256, shape, dtype=np.uint8)
        if not rgb:
            sub = "444"
        d = decode_jpeg(encode_jpeg(img, quality=quality, subsample=sub))
        assert d["array"].shape == img.shape
        assert d["mode"] == ("rgb" if rgb else "gray")
        assert (d["width"], d["height"]) == (w, h)
        # JPEG bounds error by the quant step; the standard tables top
        # out well under 255 at quality >= 50 for ANY content
        err = np.abs(d["array"].astype(float) - img.astype(float))
        assert err.mean() < 64.0

    roundtrip()


def test_curate_media_attrition_pipeline(spark):
    """curate_media (the media clean_corpus): undecodable payloads
    drop at the decode stage (never raise), thumbnails at the size
    stage, byte-identical duplicates at the dedup stage (lowest id
    wins), and the attrition report chains each stage's counts. The
    all-rows-dropped batch path (a partition holding only corrupt
    payloads) must yield nothing, not a zero-row Arrow frame."""
    import numpy as np
    import pytest

    from functime_spark.pipeline.jpeg import encode_jpeg
    from functime_spark.pipeline.multimodal import curate_media

    rng = np.random.default_rng(2)
    big = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    small = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    other = rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(encode_jpeg(big, quality=95)), "{}"),
        (2, "image", bytearray(encode_jpeg(big, quality=95)), "{}"),  # dup
        (3, "image", bytearray(encode_jpeg(small, quality=95)), "{}"),
        (4, "image", bytearray(b"corrupt bytes"), "{}"),
        (5, "image", bytearray(encode_jpeg(other, quality=95)), "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    cur, rep = curate_media(media, decoder="jpeg", min_width=8, min_height=8)
    got = cur.orderBy("media_id").collect()
    assert [r["media_id"] for r in got] == [1, 5]
    assert got[0]["width"] == 32 and got[1]["height"] == 20
    assert all(len(r["feature"]) == 64 for r in got)
    stages = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in rep.collect()}
    assert stages == {"decode": (5, 4), "size": (4, 3), "dedup": (3, 2)}

    # NULL payloads drop at decode (contract: dropped, never raised)
    withnull = spark.createDataFrame(
        [(1, "image", bytearray(encode_jpeg(big, quality=95)), "{}"),
         (8, "image", None, "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    curn, repn = curate_media(withnull, decoder="jpeg")
    assert [r["media_id"] for r in curn.collect()] == [1]
    assert {r["stage"]: (r["rows_in"], r["rows_out"])
            for r in repn.collect()}["decode"] == (2, 1)

    # every payload corrupt -> empty curated frame, report still counts
    allbad = spark.createDataFrame(
        [(9, "image", bytearray(b"junk"), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    cur2, rep2 = curate_media(allbad, decoder="jpeg")
    assert cur2.count() == 0
    assert {r["stage"]: r["rows_out"] for r in rep2.collect()}["decode"] == 0

    with pytest.raises(ValueError, match="real decoder"):
        curate_media(media, decoder="fake")


def test_video_to_webdataset_etl_chain(spark, tmp_path):
    """The full media-ETL chain composes: MJPEG video payloads ->
    sample_frames (every Nth frame as a standalone JPEG) ->
    write_webdataset tar shards -> read_webdataset -> decode. Every
    sampled frame survives the whole chain byte-for-byte and still
    decodes to its source frame."""
    import numpy as np
    from pyspark.sql import functions as F

    from functime_spark.pipeline.jpeg import decode_jpeg
    from functime_spark.pipeline.mjpeg import encode_mjpeg_avi
    from functime_spark.pipeline.multimodal import sample_frames
    from functime_spark.pipeline.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    h, w, n = 24, 32, 6
    yy, xx = np.mgrid[0:h, 0:w]
    videos = {}
    rows = []
    for vid in (1, 2):
        frames = [
            np.clip(
                np.stack([xx * 200 / w + 11 * i + 40 * vid, yy * 200 / h,
                          np.full((h, w), 25 * i)], axis=-1), 0, 255,
            ).astype(np.uint8)
            for i in range(n)
        ]
        videos[vid] = frames
        rows.append((vid, "video",
                     bytearray(encode_mjpeg_avi(frames, fps=10, quality=92)),
                     "{}"))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    frames_df = sample_frames(media, every_n=2).select(
        F.concat_ws("_", "media_id", "frame_idx").alias("key"),
        F.lit("jpg").alias("ext"),
        "payload",
    )
    out_dir = str(tmp_path / "video_wds")
    manifest = write_webdataset(frames_df, out_dir, n_shards=3).collect()
    assert sum(r["n_members"] for r in manifest) == 2 * 3  # 2 videos x 3 samples

    back = read_webdataset(spark, out_dir).collect()
    assert len(back) == 6
    for r in back:
        vid, idx = (int(x) for x in r["key"].split("_"))
        dec = decode_jpeg(bytes(r["payload"]))["array"]
        src = videos[vid][idx]
        err = np.abs(dec.astype(float) - src.astype(float)).mean()
        assert dec.shape == src.shape and err < 8.0, (vid, idx, err)


def test_bm25_topk_matches_numpy(spark):
    """BM25 scores equal the straight numpy Okapi computation
    (Lucene non-negative idf), ranking and k-cut included."""
    import math

    from functime_spark.pipeline.similarity import bm25_topk

    texts = {
        1: "spark shuffles data fast",
        2: "spark spark joins data",
        3: "ducks swim in ponds",
        4: "spark",
        5: "data data data joins joins spark",
    }
    d = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    q = ["spark", "joins"]
    n = len(texts)
    toks = {k: v.split() for k, v in texts.items()}
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {t: sum(1 for tk in toks.values() if t in tk) for t in q}
    k1, b = 1.2, 0.75

    def score(doc):
        s = 0.0
        for t in q:
            tf = toks[doc].count(t)
            if not tf:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks[doc]) / avgdl))
        return s

    want = sorted(
        ((score(i), i) for i in texts if score(i) > 0),
        key=lambda x: (-x[0], x[1]),
    )
    got = bm25_topk(d, "spark joins", k=3).collect()
    assert [r["doc_id"] for r in got] == [i for _, i in want[:3]]
    for r, (s, _) in zip(got, want):
        assert r["bm25"] == pytest.approx(s, rel=1e-12)
    # empty query rejected
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(d, "   ")
    # no-match query returns empty, not error
    assert bm25_topk(d, "zebra").count() == 0


def test_media_jpeg_progressive_decode_vs_javaimageio(spark):
    """PROGRESSIVE (SOF2) decode (r8): javax.imageio writes its
    default multi-scan script (DC first/refine, AC spectral bands with
    successive approximation + EOB runs); our T.81 Annex G engine must
    agree with Java's own decode of the same stream. Grayscale pins
    agreement at max-1-LSB (raster access, no colorspace transform);
    4:2:0 color differs only by the chroma upsampling filter (Java
    interpolates, we box-replicate — both spec-legal), so color gets
    the looser vs-original bound the baseline Java-stream check uses."""
    import numpy as np

    from functime_spark.pipeline.jpeg import decode_jpeg

    def psnr(a, b):
        mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
        return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)

    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage

    def java_progressive(bi):
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "jpg").next()
        param = writer.getDefaultWriteParam()
        param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(0.9)
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
        ios.flush()
        writer.dispose()
        return bytes(baos.toByteArray())

    rng = np.random.default_rng(3)
    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w].astype(float)
    # textured: every zigzag position carries energy, so the AC
    # refinement correction-bit path is fully exercised
    gray = np.clip(
        128 + 60 * np.sin(xx / 2.5) * np.cos(yy / 3.1)
        + rng.normal(0, 18, (h, w)), 0, 255,
    ).astype(np.uint8)
    bi = BI(w, h, BI.TYPE_BYTE_GRAY)
    ras = bi.getRaster()
    for y in range(h):
        for x in range(w):
            ras.setSample(x, y, 0, int(gray[y, x]))
    prog = java_progressive(bi)
    assert b"\xff\xc2" in prog[:600]  # really SOF2
    d = decode_jpeg(prog)
    assert (d["width"], d["height"], d["mode"]) == (w, h, "gray")
    jimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(prog))
    jras = jimg.getRaster()
    got = np.zeros((h, w), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            got[y, x] = jras.getSample(x, y, 0)
    assert int(np.abs(d["array"].astype(int) - got.astype(int)).max()) <= 1
    assert psnr(d["array"], got) > 55.0
    assert psnr(d["array"], gray) > 30.0

    # color (4:2:0 from Java's default sampling): decode must land on
    # the original within the baseline-test bound despite the
    # upsampling-filter difference
    rgb = gray[..., None].repeat(3, axis=-1).astype(np.uint8)
    rgb[..., 1] = np.roll(rgb[..., 1], 3, axis=1)
    bi2 = BI(w, h, BI.TYPE_INT_RGB)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in rgb[y, x])
            bi2.setRGB(x, y, (r << 16) | (g << 8) | b)
    prog2 = java_progressive(bi2)
    assert b"\xff\xc2" in prog2[:600]
    d2 = decode_jpeg(prog2)
    assert (d2["width"], d2["height"], d2["mode"]) == (w, h, "rgb")
    assert psnr(d2["array"], rgb) > 22.0

    # the decoder seam consumes progressive payloads end-to-end
    from functime_spark.pipeline.multimodal import extract_features_media

    media = spark.createDataFrame(
        [(1, "image", bytearray(prog), "{}"),
         (2, "image", bytearray(prog2), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    rows = extract_features_media(media, dim=6, decoder="jpeg").collect()
    assert len(rows) == 2 and all(len(r["feature"]) == 6 for r in rows)


def test_media_png_encoder_lossless_and_java_referee(spark):
    """encode_png (r8): lossless roundtrip through our own decoder for
    all four color types, and the independent javax.imageio decoder
    reads our bytes back EXACTLY (PNG is lossless, so the referee
    check is equality, not PSNR)."""
    import numpy as np

    from functime_spark.pipeline.multimodal import decode_png, encode_png

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, (21, 33, 3), dtype=np.uint8)
    payload = encode_png(rgb)
    back = decode_png(payload)
    assert back["mode"] == "rgb" and np.array_equal(back["array"], rgb)
    gray = rng.integers(0, 256, (14, 9), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(gray))["array"], gray)
    rgba = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(rgba))["array"], rgba)

    jvm = spark.sparkContext._jvm
    jimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(payload))
    assert jimg.getWidth() == 33 and jimg.getHeight() == 21
    got = np.zeros((21, 33, 3), dtype=np.uint8)
    for y in range(21):
        for x in range(33):
            v = jimg.getRGB(x, y)
            got[y, x] = [(v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF]
    assert np.array_equal(got, rgb)
    with pytest.raises(ValueError, match="uint8"):
        encode_png(rgb.astype(np.float32))


def test_media_gif_decode_vs_javaimageio(spark):
    """GIF decoder (r8): LZW with variable code width + deferred
    clear, palette lookup, optional interlace. Java's GIF writer is
    LOSSLESS for <=256-color inputs, so the referee check is exact
    equality against BOTH Java's own decode and the original —
    plain and interlaced (progressive-mode) streams."""
    import numpy as np

    from functime_spark.pipeline.multimodal import decode_gif

    jvm = spark.sparkContext._jvm
    rng = np.random.default_rng(5)
    h, w = 37, 53
    pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 64, (h, w))]
    BI = jvm.java.awt.image.BufferedImage
    bi = BI(w, h, BI.TYPE_INT_RGB)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in img[y, x])
            bi.setRGB(x, y, (r << 16) | (g << 8) | b)

    def java_gif(progressive):
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "gif").next()
        param = writer.getDefaultWriteParam()
        if progressive:
            param.setProgressiveMode(
                jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
        ios.flush()
        writer.dispose()
        return bytes(baos.toByteArray())

    for progressive in (False, True):
        gif = java_gif(progressive)
        assert gif[:6] in (b"GIF87a", b"GIF89a")
        d = decode_gif(gif)
        assert (d["width"], d["height"], d["mode"]) == (w, h, "rgb")
        assert np.array_equal(d["array"], img)

    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"not a gif")
    with pytest.raises(ValueError, match="truncated"):
        decode_gif(java_gif(False)[:40] + b"\x3b")  # cut mid color table
    full = java_gif(False)
    with pytest.raises(ValueError, match="truncated|unknown GIF"):
        decode_gif(full[: len(full) - len(full) // 3])  # cut entropy data


def test_media_gif_encoder_roundtrip_and_javax(spark):
    """encode_gif (r9): real variable-width LZW + optional interlace.
    Textured random-palette inputs round-trip exactly through our own
    decoder (plain, interlaced, grayscale), the independent
    javax.imageio reader decodes our bytes to the same pixels, and a
    noisy 128x128/200-color image drives the code table past the
    4096 cap (deferred-clear width freeze) — still byte-exact both
    ways."""
    import numpy as np

    from functime_spark.pipeline.multimodal import decode_gif, encode_gif

    jvm = spark.sparkContext._jvm

    def javax_pixels(payload, w, h):
        jimg = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(payload)
        )
        out = np.zeros((h, w, 3), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                v = jimg.getRGB(x, y)
                out[y, x] = ((v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)
        return out

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (7, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 7, (29, 41))]
    for interlace in (False, True):
        payload = encode_gif(img, interlace=interlace)
        assert payload[:6] == b"GIF89a" and payload[-1:] == b"\x3b"
        d = decode_gif(payload)
        assert (d["width"], d["height"]) == (41, 29)
        assert np.array_equal(d["array"], img)
        assert np.array_equal(javax_pixels(payload, 41, 29), img)

    # grayscale input broadcasts to RGB; odd palette size pads the GCT
    gray = rng.integers(0, 5, (13, 17), dtype=np.uint8) * 60
    dg = decode_gif(encode_gif(gray))
    assert np.array_equal(dg["array"], np.repeat(gray[..., None], 3, axis=2))

    # LZW table past 4096 (deferred clear): noisy texture, 200 colors
    pal200 = rng.integers(0, 256, (200, 3), dtype=np.uint8)
    big = pal200[rng.integers(0, 200, (128, 128))]
    pay = encode_gif(big)
    assert np.array_equal(decode_gif(pay)["array"], big)
    assert np.array_equal(javax_pixels(pay, 128, 128), big)

    with pytest.raises(ValueError, match="uint8"):
        encode_gif(big.astype(np.float32))
    with pytest.raises(ValueError, match="zero-area"):
        encode_gif(np.zeros((0, 5), dtype=np.uint8))
    with pytest.raises(ValueError, match="256"):
        grad = np.arange(300, dtype=np.int32)
        rgbgrad = np.stack(
            [grad % 256, grad // 2 % 256, grad // 3 % 256], axis=1
        ).astype(np.uint8)
        encode_gif(rgbgrad.reshape(10, 30, 3))


def test_media_tiff_codec_roundtrip_and_javax(spark):
    """TIFF codec (r9): baseline uncompressed 8-bit gray/RGB/RGBA,
    both byte orders, strip layout. Textured inputs round-trip exactly
    through our encoder/decoder (single- and multi-strip), javax
    decodes our II bytes pixel-exact, our decoder reads javax's MM
    (big-endian) output, and unsupported shapes fail loudly."""
    import numpy as np

    from functime_spark.pipeline.multimodal import decode_tiff, encode_tiff

    jvm = spark.sparkContext._jvm
    rng = np.random.default_rng(13)

    for shape, mode in [((13, 17), "gray"), ((9, 11, 3), "rgb"),
                        ((7, 5, 4), "rgba")]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for rps in (None, 3):
            d = decode_tiff(encode_tiff(img, rows_per_strip=rps))
            assert d["mode"] == mode
            assert np.array_equal(d["array"].reshape(shape), img)

    # javax referee: reads our (II) bytes pixel-exact
    h, w = 21, 33
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    payload = encode_tiff(img, rows_per_strip=8)
    jimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(payload)
    )
    got = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            v = jimg.getRGB(x, y)
            got[y, x] = ((v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)
    assert np.array_equal(got, img)

    # ...and we read javax's MM (big-endian) output
    BI = jvm.java.awt.image.BufferedImage
    bi = BI(w, h, BI.TYPE_INT_RGB)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in img[y, x])
            bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
        "tiff").next()
    writer.setOutput(ios)
    writer.write(bi)
    ios.flush()
    writer.dispose()
    java_tiff = bytes(baos.toByteArray())
    assert java_tiff[:2] == b"MM"
    d = decode_tiff(java_tiff)
    assert np.array_equal(d["array"], img)

    # Photometric handling (r9 review): WhiteIsZero (0) decodes by
    # INVERSION — archival/fax scans must not come out negative —
    # and palette (3) rejects loudly instead of returning raw indexes
    gray8 = rng.integers(0, 256, (6, 7), dtype=np.uint8)
    enc = bytearray(encode_tiff(gray8))
    photo_at = enc.find(b"\x06\x01\x03\x00\x01\x00\x00\x00\x01\x00")
    assert photo_at > 0  # tag 262, SHORT, count 1, value 1
    enc[photo_at + 8] = 0  # -> WhiteIsZero
    inv = decode_tiff(bytes(enc))
    assert np.array_equal(inv["array"], 255 - gray8)
    enc[photo_at + 8] = 3  # -> palette
    with pytest.raises(ValueError, match="Photometric"):
        decode_tiff(bytes(enc))

    # word alignment (r9 review): odd strip lengths are padded so
    # every value offset and the IFD offset are even (TIFF 6.0)
    import struct as _struct

    odd = encode_tiff(
        rng.integers(0, 256, (13, 17), dtype=np.uint8), rows_per_strip=1
    )
    assert _struct.unpack("<I", odd[4:8])[0] % 2 == 0  # IFD offset
    d13 = decode_tiff(odd)
    assert d13["array"].shape == (13, 17)

    # loud failures
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"not a tiff")
    with pytest.raises(ValueError, match="truncated TIFF"):
        decode_tiff(encode_tiff(img)[:40])
    with pytest.raises(ValueError, match="uint8"):
        encode_tiff(img.astype(np.float32))
    with pytest.raises(ValueError, match="Compression=1"):
        bad = bytearray(encode_tiff(img))
        # flip the Compression tag value (type SHORT, inline) to 5 (LZW)
        comp_at = bad.find(b"\x03\x01\x03\x00\x01\x00\x00\x00\x01\x00")
        assert comp_at > 0
        bad[comp_at + 8] = 5
        decode_tiff(bytes(bad))


def test_media_dhash_near_dup_discrimination(spark):
    """dHash (r9) on REALISTIC textured images: a slightly-perturbed
    copy (small noise on a smooth gradient+texture image) keeps its
    dHash within a few bits of the original while independent random
    images stay far apart — dhash_near_dups finds exactly the planted
    copies and no false pairs; hash invariance under nearest-neighbor
    upscale (the property that makes it a RESIZE-robust near-dup key)
    also holds."""
    import numpy as np

    from functime_spark.pipeline.multimodal import (
        dhash_media,
        dhash_near_dups,
        resize_ppm,
    )

    rng = np.random.default_rng(21)

    def ppm(arr):
        h, w = arr.shape
        return b"P5\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()

    rows = []
    n_base = 12
    for i in range(n_base):
        # independent random textures: adjacent-pixel differences are
        # large, so the +/-2 perturbation below flips almost no
        # compares while unrelated images differ in ~half the bits
        base = rng.integers(0, 256, (32, 32)).astype(np.uint8)
        rows.append((i, "image", bytearray(ppm(base)), "{}"))
        if i < 4:  # plant a near-dup: tiny additive noise
            pert = (base.astype(np.int16) + rng.integers(-2, 3, (32, 32))).clip(
                0, 255
            ).astype(np.uint8)
            rows.append((100 + i, "image", bytearray(ppm(pert)), "{}"))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    pairs = dhash_near_dups(media, decoder="ppm", max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert found == {(i, 100 + i) for i in range(4)}

    # resize robustness: nearest-neighbor 2x upscale preserves the hash
    one = ppm(
        (np.mgrid[0:32, 0:32][1] * 3 + rng.integers(0, 40, (32, 32)))
        .clip(0, 255).astype(np.uint8)
    )
    both = spark.createDataFrame(
        [(1, "image", bytearray(one), "{}"),
         (2, "image", bytearray(resize_ppm(one, 64, 64)), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    hs = {r["media_id"]: r["phash"] for r in dhash_media(both).collect()}
    assert bin(hs[1] ^ hs[2]).count("1") <= 2

    with pytest.raises(ValueError, match="real decoder"):
        dhash_media(media, decoder="fake")
    with pytest.raises(ValueError, match="hash_size"):
        dhash_media(media, hash_size=12)


def test_media_wav_resample(spark):
    """resample_wav (r9): a linear ramp resamples EXACTLY (linear
    interpolation reproduces linear signals up to the floor(+0.5)
    quantization); same-rate is an identity; a sine survives
    8k -> 16k -> 8k within 1 LSB of interpolation error at the
    original sample points; stereo/8-bit rejected; the distributed
    resample_audio op matches the codec-level call payload-for-payload."""
    import numpy as np

    from functime_spark.pipeline.multimodal import (
        decode_wav,
        encode_wav,
        resample_audio,
        resample_wav,
    )

    ramp = np.arange(0, 1000, dtype=np.int16) * 3 - 1500
    wav = encode_wav(ramp, rate=8000)
    out = decode_wav(resample_wav(wav, 5000))
    assert out["rate"] == 5000 and len(out["array"]) == 999 * 5000 // 8000 + 1
    j = np.arange(len(out["array"]), dtype=np.float64)
    p = (j * 8000) / 5000
    want = np.floor(
        (ramp[0] + p * 3) + 0.5
    ).astype(np.int16)
    assert np.array_equal(out["array"], want)

    assert np.array_equal(decode_wav(resample_wav(wav, 8000))["array"], ramp)

    t = (np.sin(np.arange(1000) / 20.0) * 20000).astype(np.int16)
    up = resample_wav(encode_wav(t, rate=8000), 16000)
    back = decode_wav(resample_wav(up, 8000))["array"]
    # original sample points land exactly on upsampled grid points, so
    # the round trip only pays the two quantization steps
    assert np.abs(back[: len(t) * 2 // 2][: 999].astype(int) - t[:999].astype(int)).max() <= 2

    with pytest.raises(ValueError, match="mono 16-bit"):
        resample_wav(encode_wav(t, rate=8000, sampwidth=1), 5000)
    with pytest.raises(ValueError, match="target_rate"):
        resample_wav(wav, 0)

    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    row = resample_audio(media, 5000).first()
    assert bytes(row["payload"]) == resample_wav(wav, 5000)
    assert '"rate": 5000' in row["meta"]

    # r9 review: non-WAV bytes surface as the seam's ValueError (wave
    # internals mapped), and on_error='drop' skips them silently —
    # a stray image row in a mixed frame must not fail the job
    with pytest.raises(ValueError, match="WAV"):
        resample_wav(b"not audio at all", 5000)
    mixed = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "{}"),
         (2, "image", bytearray(b"P5\n1 1\n255\nx"), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    with pytest.raises(Exception, match="WAV"):
        resample_audio(mixed, 5000).collect()
    kept = resample_audio(mixed, 5000, on_error="drop").collect()
    assert [r["media_id"] for r in kept] == [1]
    with pytest.raises(ValueError, match="on_error"):
        resample_audio(mixed, 5000, on_error="warn")


def test_media_wav_encoder_roundtrip():
    """encode_wav (r8): float [-1,1] quantizes to the target width and
    round-trips through the stdlib decode path within 1 LSB; int16
    passthrough is exact; 8-bit unsigned offset honored."""
    import numpy as np

    from functime_spark.pipeline.multimodal import decode_wav, encode_wav

    t = np.sin(np.arange(2000) / 30.0) * 0.7
    d = decode_wav(encode_wav(t, rate=8000))
    assert d["rate"] == 8000 and len(d["array"]) == 2000
    assert np.abs(d["array"] / 32768.0 - t).max() <= 1.0 / 32768.0 + 1e-9
    i16 = (t * 32767).astype(np.int16)
    assert np.array_equal(decode_wav(encode_wav(i16, rate=8000))["array"], i16)
    u8 = decode_wav(encode_wav(t, rate=8000, sampwidth=1))["array"]
    assert u8.dtype == np.uint8  # 8-bit WAV is unsigned, 128-centered
    back = (u8.astype(np.float64) - 128.0) / 128.0
    assert np.abs(back - t).max() <= 1.0 / 128.0 + 1e-9
    with pytest.raises(ValueError, match="sample width"):
        encode_wav(t, sampwidth=3)


def test_media_review_regressions_r8(spark):
    """Round-8 self-review regressions: (1) decode_wav -> encode_wav
    8-bit round-trip is lossless (the +128 offset applies only to
    float quantization); (2) GIF LZW rejects out-of-range codes
    instead of fabricating pixels; (3) a progressive Ns=1 grayscale
    scan ignores the component's sampling factors (T.81: always
    non-interleaved over the component's own block grid)."""
    import numpy as np

    from functime_spark.pipeline.jpeg import decode_jpeg
    from functime_spark.pipeline.multimodal import (
        _lzw_decode,
        decode_wav,
        encode_wav,
    )

    # (1) 8-bit WAV: decode -> encode -> decode is identity
    t = np.sin(np.arange(500) / 20.0) * 0.5
    u8 = decode_wav(encode_wav(t, rate=8000, sampwidth=1))["array"]
    again = decode_wav(encode_wav(u8, rate=8000, sampwidth=1))["array"]
    assert np.array_equal(u8, again)

    # (2) LZW: a code past the next free slot is corruption
    # min_code=2: clear=4, eoi=5, first free slot=6. Emit code 7
    # right after a literal — 3-bit codes: 0b000 then 0b111.
    bad = bytes([0b00111000])
    with pytest.raises(ValueError, match="corrupt GIF LZW"):
        _lzw_decode(bad, 2, 100)

    # (3) progressive grayscale with patched 2x2 sampling decodes
    # IDENTICALLY to the 1x1 original — Ns=1 scans use the component
    # block grid, so sampling factors must not change the result
    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    rng = np.random.default_rng(9)
    h, w = 24, 24
    gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
    bi = BI(w, h, BI.TYPE_BYTE_GRAY)
    ras = bi.getRaster()
    for y in range(h):
        for x in range(w):
            ras.setSample(x, y, 0, int(gray[y, x]))
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.flush()
    writer.dispose()
    prog = bytearray(bytes(baos.toByteArray()))
    sof = bytes(prog).find(b"\xff\xc2")
    assert sof > 0
    # SOF2: FF C2 len(2) prec(1) h(2) w(2) ncomp(1) id(1) sampling(1)
    assert prog[sof + 11] == 0x11
    base_decode = decode_jpeg(bytes(prog))["array"]
    prog[sof + 11] = 0x22
    patched = decode_jpeg(bytes(prog))["array"]
    assert np.array_equal(base_decode, patched)
    # a second SOF2 mid-stream is rejected, not silently re-inited
    double = bytes(prog[:sof]) + bytes(prog[sof:sof + 19]) + bytes(prog[sof:])
    with pytest.raises(ValueError, match="second SOF|truncated"):
        decode_jpeg(double)


def test_bm25_index_equals_direct(spark):
    """BM25Index (persisted postings, zero corpus scans per query)
    returns scores identical to the direct bm25_topk, and its search
    plan reads the materialized postings, not the documents source."""
    from functime_spark.pipeline.similarity import BM25Index, bm25_topk

    d = spark.createDataFrame(
        [(1, "spark shuffles data fast"), (2, "spark spark joins data"),
         (3, "ducks swim in ponds"), (4, "spark"),
         (5, "data data data joins joins spark")],
        "doc_id long, text string",
    )
    direct = bm25_topk(d, "spark joins", k=5).collect()
    idx = BM25Index().fit(d)
    indexed = idx.search("spark joins", k=5).collect()
    assert [(r["doc_id"], r["bm25"]) for r in indexed] == [
        (r["doc_id"], r["bm25"]) for r in direct
    ]
    # a second query reuses the artifacts — no refit needed
    assert idx.search("ducks", k=2).first()["doc_id"] == 3
    with pytest.raises(ValueError, match="non-empty"):
        idx.search(" ")
    with pytest.raises(RuntimeError, match="fit"):
        BM25Index().search("spark")


def test_mmr_rerank_diversifies(spark):
    """mmr_rerank (r9): an exact duplicate of the top hit (cosine 1.0
    to it) is demoted below a less-relevant but novel candidate; with
    lam=1.0 MMR degrades to pure relevance order; lam out of range
    raises."""
    from functime_spark.pipeline.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # top hit
            (2, [1.0, 0.0, 0.0]),   # exact duplicate of 1
            (3, [0.0, 1.0, 0.0]),   # novel direction
            (4, [0.0, 0.0, 1.0]),   # another novel direction
        ],
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(1, 0.99), (2, 0.98), (3, 0.60), (4, 0.50)],
        "vec_id long, cosine double",
    )
    out = mmr_rerank(
        cand, emb, k=4, lam=0.7, id_col="vec_id", score_col="cosine"
    ).collect()
    order = [r["id"] for r in out]
    # duplicate 2 (penalty 1.0 vs selected 1: mmr 0.7*0.98 - 0.3 =
    # 0.386) sinks below novel 3 (0.7*0.60 = 0.42) despite its higher
    # relevance, but still beats the weak novel 4 (0.7*0.50 = 0.35)
    assert order == [1, 3, 2, 4]
    assert [r["mmr_rank"] for r in out] == [1, 2, 3, 4]
    assert abs(out[0]["mmr"] - 0.7 * 0.99) < 1e-12
    # lam=1.0: pure relevance
    pure = mmr_rerank(
        cand, emb, k=4, lam=1.0, id_col="vec_id", score_col="cosine"
    ).collect()
    assert [r["id"] for r in pure] == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(cand, emb, lam=1.5, id_col="vec_id", score_col="cosine")

    # r9 review: the result keeps the CALLER's id type — string-keyed
    # shortlists work end to end
    emb_s = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    cand_s = cand.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "cosine"
    )
    out_s = mmr_rerank(
        cand_s, emb_s, k=4, lam=0.7, id_col="vec_id", score_col="cosine"
    ).collect()
    assert [r["id"] for r in out_s] == ["doc-1", "doc-3", "doc-2", "doc-4"]


def test_graph_pagerank_vs_numpy(spark):
    """pagerank (r9): a 3-cycle is exactly uniform (1/3 each, any
    damping); an asymmetric graph with a dangling node matches a
    numpy power iteration with uniform dangling redistribution to
    1e-12; rank mass sums to 1 every time; bad params raise."""
    import numpy as np

    from functime_spark.pipeline.graph import domain_authority, pagerank

    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    r = {x["node"]: x["rank"] for x in pagerank(cyc, n_iter=7).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in r.values())

    # star-with-dangling: 0->1, 0->2, 1->2, 3->0; node 2 is dangling
    edges = [(0, 1), (0, 2), (1, 2), (3, 0)]
    g = spark.createDataFrame(edges, "src long, dst long")
    got = {x["node"]: x["rank"] for x in pagerank(g, n_iter=10).collect()}

    n, d = 4, 0.85
    out = {0: [1, 2], 1: [2], 3: [0]}
    rank = {v: 1 / n for v in range(n)}
    for _ in range(10):
        dm = sum(rank[v] for v in range(n) if v not in out)
        nxt = {v: (1 - d) / n + d * dm / n for v in range(n)}
        for u, vs in out.items():
            for v in vs:
                nxt[v] += d * rank[u] / len(vs)
        rank = nxt
    assert got.keys() == rank.keys()
    for v in rank:
        assert abs(got[v] - rank[v]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9

    docs = spark.createDataFrame(
        [(0, "a"), (1, "b"), (9, "no-graph-row")], "doc_id long, text string"
    )
    da = {x["doc_id"]: x["rank"] for x in domain_authority(docs, g).collect()}
    assert abs(da[0] - rank[0]) < 1e-12
    assert abs(da[9] - (1 - d) / n) < 1e-12  # teleport floor

    with pytest.raises(ValueError, match="n_iter"):
        pagerank(g, n_iter=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(g, damping=1.5)


def test_bm25_index_incremental_update(spark):
    """BM25Index.update (r9): fit + update == one full fit, score-
    identical (UNROUNDED doubles — the associative merge and the
    exact integer length-sum make avgdl and every idf/tf term
    bit-equal); update after save/load stays exact; update before
    fit raises."""
    from functime_spark.pipeline.similarity import BM25Index

    rows = [
        (1, "spark shuffles data fast"), (2, "spark spark joins data"),
        (3, "ducks swim in ponds"), (4, "spark"),
        (5, "data data data joins joins spark"), (6, "ponds and joins"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    full = BM25Index().fit(d)
    inc = BM25Index().fit(d.filter("doc_id % 2 = 0"))
    inc.update(d.filter("doc_id % 2 = 1"))
    for q in ("spark joins", "ducks", "data ponds"):
        a = [(r["doc_id"], r["bm25"]) for r in full.search(q, k=6).collect()]
        b = [(r["doc_id"], r["bm25"]) for r in inc.search(q, k=6).collect()]
        assert a == b
    assert (inc.n_docs, inc._sum_dl, inc.avgdl) == (
        full.n_docs, full._sum_dl, full.avgdl
    )

    with pytest.raises(RuntimeError, match="fit"):
        BM25Index().update(d)

    # ADVICE r10: an instance deserialized from a pre-compaction
    # artifact has no _union_depth attribute — update() must lazily
    # initialize it instead of raising AttributeError
    legacy = BM25Index().fit(d.filter("doc_id % 2 = 0"))
    del legacy._union_depth
    legacy.update(d.filter("doc_id % 2 = 1"))
    assert legacy._union_depth == 1
    got = [(r["doc_id"], r["bm25"]) for r in legacy.search("spark joins", k=6).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in full.search("spark joins", k=6).collect()]
    assert got == want


def test_hybrid_rrf_fusion_semantics(spark):
    """hybrid_rrf_topk (r9): RRF = 1/(60+r_bm25) + 1/(60+r_dense) with
    1-based ranks; a document present in only one candidate list keeps
    a NULL rank there and contributes only the present term; ranks and
    scores match a hand computation on a tiny literal corpus."""
    from functime_spark.pipeline.similarity import hybrid_rrf_topk

    docs = spark.createDataFrame(
        [(1, "spark joins data"), (2, "spark spark joins"),
         (3, "ducks swim"), (4, "spark")],
        "doc_id long, text string",
    )
    # embeddings chosen so dense order is 2, 5, 3 (doc 5 has no text
    # row; doc 1 and 4 have no embedding)
    emb = spark.createDataFrame(
        [(2, [1.0, 0.0]), (5, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = hybrid_rrf_topk(
        docs, emb, "spark joins", [1.0, 0.0], k=10, n_candidates=3,
    ).collect()
    rows = {r["id"]: r for r in out}
    # bm25 ranks over 'spark joins': doc2 (tf spark=2, joins=1) > doc1
    # > doc4 (idf(spark) is low: 3 of 4 docs contain it)
    assert (rows[2]["r_bm25"], rows[1]["r_bm25"], rows[4]["r_bm25"]) == (1, 2, 3)
    # dense ranks vs [1, 0]: 2 (cos 1.0) > 5 (~0.994) > 3 (0.0)
    assert (rows[2]["r_dense"], rows[5]["r_dense"], rows[3]["r_dense"]) == (1, 2, 3)
    # one-list docs carry NULL for the missing rank
    assert rows[1]["r_dense"] is None and rows[5]["r_bm25"] is None
    # exact rational fusion
    assert rows[2]["rrf"] == 1 / 61 + 1 / 61
    assert rows[1]["rrf"] == 1 / 62
    assert rows[5]["rrf"] == 1 / 62
    # ordering: fused score desc, id tiebreak (1/5 tie at 1/62 and
    # 3/4 tie at 1/63 — both resolve by ascending id)
    assert [r["id"] for r in out] == [2, 1, 5, 3, 4]


def test_bm25_index_save_load_roundtrip(spark, tmp_path):
    """A saved+loaded BM25Index answers queries identically to the
    fitted one — the persisted-artifact contract."""
    from functime_spark.pipeline.similarity import BM25Index

    d = spark.createDataFrame(
        [(1, "spark shuffles data fast"), (2, "spark spark joins data"),
         (3, "ducks swim in ponds"), (4, "spark"),
         (5, "data data data joins joins spark")],
        "doc_id long, text string",
    )
    idx = BM25Index(k1=1.5, b=0.7).fit(d)
    want = [(r["doc_id"], r["bm25"]) for r in idx.search("spark joins", k=5).collect()]
    path = str(tmp_path / "bm25idx")
    idx.save(path)
    loaded = BM25Index.load(spark, path)
    assert loaded.k1 == 1.5 and loaded.b == 0.7
    got = [(r["doc_id"], r["bm25"]) for r in loaded.search("spark joins", k=5).collect()]
    assert got == want
    with pytest.raises(RuntimeError, match="fit"):
        BM25Index().save(str(tmp_path / "x"))


def test_webdataset_gzip_shards_roundtrip(spark, tmp_path):
    """compression='gz' writes deterministic .tar.gz shards that
    read_webdataset auto-detects; payloads round-trip byte-exact and
    two writes of the same data produce identical shard bytes."""
    import os as _os

    from functime_spark.pipeline.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    rows = [(str(i), "bin", bytearray(bytes([i]) * 100)) for i in range(20)]
    samples = spark.createDataFrame(rows, "key string, ext string, payload binary")
    d1, d2 = str(tmp_path / "gz1"), str(tmp_path / "gz2")
    m = write_webdataset(samples, d1, n_shards=3, compression="gz").collect()
    assert all(r["shard"].endswith(".tar.gz") for r in m)
    # n_raw_bytes == the exact gunzipped stream size (what a reading
    # task must hold), which compression visibly shrank on disk
    import gzip as _gzip

    for r in m:
        with _gzip.open(r["shard"], "rb") as gz:
            assert r["n_raw_bytes"] == len(gz.read())
        assert r["n_bytes"] == _os.path.getsize(r["shard"]) < r["n_raw_bytes"]
    write_webdataset(samples, d2, n_shards=3, compression="gz").collect()
    for f in sorted(_os.listdir(d1)):
        with open(_os.path.join(d1, f), "rb") as a, open(
            _os.path.join(d2, f), "rb"
        ) as b:
            assert a.read() == b.read()  # retry-stable bytes
    back = {r["key"]: bytes(r["payload"]) for r in read_webdataset(spark, d1).collect()}
    assert back == {str(i): bytes([i]) * 100 for i in range(20)}


def test_webdataset_member_range_reader(spark, tmp_path):
    """read_webdataset_ranges (r9): the over-the-wall read path. A
    single shard written past max_shard_bytes (scale_wall='ignore')
    reads back byte-exact through index_webdataset's header-walk +
    per-member seek reads; the index matches a stdlib tarfile walk
    exactly; members of ONE shard fan out across MULTIPLE partitions
    (parallelism is member-granular, not shard-granular — the property
    binaryFile can't have); gzip shards are rejected with a clear
    message; the write-side wall now points at this reader."""
    import tarfile as _tarfile
    import warnings as _warnings

    from pyspark.sql import functions as _F

    from functime_spark.pipeline.webdataset import (
        index_webdataset,
        read_webdataset_ranges,
        write_webdataset,
    )

    rows = [
        (f"k{i:03d}", "bin", bytearray(bytes([i % 251]) * (100 + 37 * i)))
        for i in range(40)
    ]
    samples = spark.createDataFrame(
        rows, "key string, ext string, payload binary"
    )
    d = str(tmp_path / "wds_ranges")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        write_webdataset(samples, d, n_shards=1, max_shard_bytes=2048)
    assert any("read_webdataset_ranges" in str(w.message) for w in caught)

    # index == a stdlib header walk, exactly
    idx = index_webdataset(spark, d).collect()
    shard = idx[0]["shard"]
    with _tarfile.open(shard) as tf:
        expect = {
            m.name: (m.offset_data, m.size)
            for m in tf.getmembers() if m.isfile()
        }
    assert len(idx) == 40 == len(expect)
    for r in idx:
        assert expect[f"{r['key']}.{r['ext']}"] == (r["offset"], r["size"])

    # payloads byte-exact through the seek-read path
    out = read_webdataset_ranges(spark, d, partitions=4)
    got = {r["key"]: bytes(r["payload"]) for r in out.collect()}
    assert got == {k: bytes(p) for k, _, p in rows}

    # the ONE shard spans multiple partitions: member-granular
    # parallelism (binaryFile would pin the whole shard to one task)
    pids = (
        read_webdataset_ranges(spark, d, partitions=4)
        .select(_F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert pids > 1

    # a pre-materialized index skips the header walk
    idx_df = index_webdataset(spark, d)
    out2 = read_webdataset_ranges(spark, d, index=idx_df, partitions=2)
    assert {r["key"]: bytes(r["payload"]) for r in out2.collect()} == got

    # gzip: no random access -> explicit rejection
    dgz = str(tmp_path / "wds_ranges_gz")
    write_webdataset(samples, dgz, n_shards=1, compression="gz",
                     scale_wall="ignore")
    with pytest.raises(ValueError, match="gzip"):
        index_webdataset(spark, dgz, pattern="*.tar.gz")
    with pytest.raises(FileNotFoundError):
        index_webdataset(spark, str(tmp_path / "nope"))


def test_media_curate_with_gif_decoder(spark):
    """curate_media composes with the GIF decoder: corrupt GIF
    payloads drop at the decode stage (never raise), valid ones
    survive with decoded dimensions — the register_decoder contract
    holding for the r8 codec."""
    import numpy as np

    from functime_spark.pipeline.multimodal import curate_media, encode_png  # noqa: F401

    # build two tiny valid GIFs via the JVM writer and one corrupt row
    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage

    def java_gif(seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 64, (6, 7), dtype=np.uint8) * 4
        bi = BI(7, 6, BI.TYPE_INT_RGB)
        for y in range(6):
            for x in range(7):
                v = int(img[y, x])
                bi.setRGB(x, y, (v << 16) | (v << 8) | v)
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.javax.imageio.ImageIO.write(bi, "gif", baos)
        return bytes(baos.toByteArray())

    media = spark.createDataFrame(
        [(1, "image", bytearray(java_gif(1)), "{}"),
         (2, "image", bytearray(java_gif(2)), "{}"),
         (3, "image", bytearray(b"GIF89a truncated junk"), "{}"),
         (4, "image", bytearray(b"not a gif at all"), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    curated, report = curate_media(media, decoder="gif", min_width=2,
                                   min_height=2, dim=4)
    rep = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in report.collect()}
    assert rep["decode"] == (4, 2)  # both corrupt rows dropped, no raise
    rows = {r["media_id"]: (r["width"], r["height"]) for r in curated.collect()}
    assert rows == {1: (7, 6), 2: (7, 6)}


def test_bm25_index_update_compaction(spark):
    """Six one-doc updates cross COMPACT_EVERY (ADVICE r9): the
    postings union stack compacts (depth counter resets, the plan no
    longer nests one Union per update) and scores stay IDENTICAL to a
    single full fit — compaction is a pure plan rewrite."""
    from functime_spark.pipeline.similarity import BM25Index

    rows = [
        (1, "spark shuffles data fast"), (2, "spark spark joins data"),
        (3, "ducks swim in ponds"), (4, "spark"),
        (5, "data data data joins joins spark"), (6, "ponds and joins"),
        (7, "fast ducks join spark"), (8, "data ponds everywhere"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    full = BM25Index().fit(d)
    inc = BM25Index().fit(d.filter("doc_id = 1"))
    for i in range(2, 9):
        inc.update(d.filter(f"doc_id = {i}"))
    # 7 updates with COMPACT_EVERY=4 -> compacted at depth 4, counter
    # now 3; the plan carries at most COMPACT_EVERY unions
    assert inc._union_depth == 3
    plan = inc.postings._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") <= BM25Index.COMPACT_EVERY
    for q in ("spark joins", "ducks", "data ponds"):
        a = [(r["doc_id"], r["bm25"]) for r in full.search(q, k=8).collect()]
        b = [(r["doc_id"], r["bm25"]) for r in inc.search(q, k=8).collect()]
        assert a == b


def test_scrub_spans_keep_first_and_stitch(spark):
    """keep_first=True (r10): the corpus-wide min-(doc, pos) occurrence
    of each duplicated k-gram survives as the canonical copy; every
    later occurrence is scrubbed. n_dup_spans counts MAXIMAL stitched
    removed runs, not matching windows."""
    from functime_spark.pipeline.dedup import scrub_duplicated_spans

    dup = "the quick brown fox jumps"
    d = spark.createDataFrame(
        [
            (1, f"intro words {dup} tail one"),
            (2, f"{dup} closing remark here"),
            (3, f"prefix {dup} and again {dup} suffix"),
            (4, "completely different tokens entirely"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in scrub_duplicated_spans(d, k=5, keep_first=True).collect()
    }
    # doc 1 holds the global first occurrence (min doc_id, then pos) —
    # its copy survives; docs 2 and 3 lose every copy
    assert out[1]["text"] == f"intro words {dup} tail one"
    assert out[1]["n_dup_spans"] == 0
    assert out[2]["text"] == "closing remark here"
    assert out[2]["n_dup_spans"] == 1
    assert out[3]["text"] == "prefix and again suffix"
    assert out[3]["n_dup_spans"] == 2  # two separated copies = two spans
    assert out[4]["n_dup_spans"] == 0

    # scrub mode (keep_first=False) still removes ALL copies, and the
    # two overlapping windows inside one run stitch into ONE span
    allout = {
        r["doc_id"]: r for r in scrub_duplicated_spans(d, k=5).collect()
    }
    assert allout[1]["text"] == "intro words tail one"
    assert allout[1]["n_dup_spans"] == 1
    assert allout[3]["n_dup_spans"] == 2


def test_scrub_spans_adjacent_windows_stitch_to_one(spark):
    """Six duplicated tokens under k=5 produce two overlapping matched
    windows whose coverage merges — n_dup_spans must report 1."""
    from functime_spark.pipeline.dedup import scrub_duplicated_spans

    dup = "a1 a2 a3 a4 a5 a6"
    d = spark.createDataFrame(
        [(1, f"x {dup} y"), (2, f"p {dup} q")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in scrub_duplicated_spans(d, k=5).collect()}
    assert out[1]["text"] == "x y" and out[1]["n_dup_spans"] == 1
    assert out[2]["text"] == "p q" and out[2]["n_dup_spans"] == 1


def test_clean_corpus_span_dedup_stage(spark):
    """clean_corpus(span_dedup='keepfirst') (r10): the span stage runs
    after doc-level dedup, rewrites text_col (first copy survives,
    later copies scrubbed), keeps every doc, and reports attrition."""
    from functime_spark.pipeline.clean import clean_corpus

    boiler = "all rights reserved click here to unsubscribe now"
    d = spark.createDataFrame(
        [
            (1, f"alpha article body text one {boiler}"),
            (2, f"beta article body text two {boiler}"),
            (3, "gamma article body text three no footer at all"),
        ],
        ["doc_id", "text"],
    )
    clean, report = clean_corpus(
        d,
        use_gopher=False,
        dedup="exact",
        span_dedup="keepfirst",
        span_k=8,
        max_tier=None,
    )
    stages = [r["stage"] for r in report.collect()]
    assert "span_dedup" in stages
    out = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert set(out) == {1, 2, 3}  # span stage never drops documents
    assert out[1] == f"alpha article body text one {boiler}"
    assert out[2] == "beta article body text two"
    assert out[3] == "gamma article body text three no footer at all"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="span_dedup"):
        clean_corpus(d, use_gopher=False, dedup="exact", span_dedup="bogus")


def test_ngram_lm3_score_matches_hand_computation(spark):
    """Interpolated trigram LM (r10): per-token log-probs match a
    pure-Python recomputation of the same counts and interpolation on
    a tiny corpus (self-scored), including the position-1 unigram
    branch and the position-2 trigram-term-zero branch."""
    import math
    from collections import Counter

    from functime_spark.pipeline.lm import ngram_lm3_score

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "a dog ran",
    }
    d = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    out = {r["doc_id"]: r for r in ngram_lm3_score(d).collect()}

    toks = {k: v.split() for k, v in texts.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    bi = Counter(
        (ws[i - 1], ws[i]) for ws in toks.values() for i in range(1, len(ws))
    )
    tri = Counter(
        (ws[i - 2], ws[i - 1], ws[i])
        for ws in toks.values()
        for i in range(2, len(ws))
    )
    n = sum(uni.values())
    v = len(uni)
    alpha, l3, l2 = 0.5, 0.5, 0.3
    l1 = 1.0 - l3 - l2

    def pu(w):
        return (uni[w] + alpha) / (n + alpha * v)

    for did, ws in toks.items():
        lps = [math.log(pu(ws[0]))]
        for i in range(1, len(ws)):
            t3 = 0.0
            if i >= 2 and bi[(ws[i - 2], ws[i - 1])]:
                t3 = tri[(ws[i - 2], ws[i - 1], ws[i])] / bi[
                    (ws[i - 2], ws[i - 1])
                ]
            t2 = bi[(ws[i - 1], ws[i])] / uni[ws[i - 1]]
            lps.append(math.log(l3 * t3 + l2 * t2 + l1 * pu(ws[i])))
        ce = -sum(lps) / len(lps)
        assert abs(out[did]["cross_entropy"] - ce) < 1e-12
        assert out[did]["n_tokens"] == len(ws)
        assert abs(out[did]["perplexity"] - math.exp(ce)) < 1e-12


def test_ngram_lm3_heldout_oov_and_tiers(spark):
    """Held-out trigram scoring: OOV tokens ride the unigram floor
    (finite score, no -inf), unseen contexts zero the higher-order
    terms; quality_tiers consumes the trigram scores unchanged (the
    'either model' contract); degenerate empty fit scores neutrally;
    bad lambdas raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from functime_spark.pipeline.lm import (
        fit_ngram_lm3,
        ngram_lm3_score,
        quality_tiers,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zebra xylophone quux"),
         (12, "cat zebra sat")],
        ["doc_id", "text"],
    )
    lm = fit_ngram_lm3(train)
    out = {r["doc_id"]: r for r in ngram_lm3_score(test, lm=lm).collect()}
    import math

    for did in (10, 11, 12):
        assert math.isfinite(out[did]["cross_entropy"])
    # pure-OOV doc scores strictly worse than the in-domain one
    assert out[11]["cross_entropy"] > out[10]["cross_entropy"]

    scored = ngram_lm3_score(test, lm=lm)
    tiers = quality_tiers(scored, n_tiers=2, exact=True)
    got = {r["doc_id"]: r["tier"] for r in tiers.collect()}
    assert got[10] == 0 and got[11] == 1

    empty = spark.createDataFrame([], "doc_id long, text string")
    neutral = ngram_lm3_score(test, train=empty).collect()
    assert all(r["cross_entropy"] == 0.0 for r in neutral)

    with _pytest.raises(ValueError, match="lam"):
        ngram_lm3_score(test, lam3=0.9, lam2=0.2)


def test_clean_corpus_trigram_tier(spark):
    """clean_corpus(lm_order=3): the perplexity stage scores with the
    trigram LM and the tier cut keeps the requested share; lm_order
    validation raises."""
    import pytest as _pytest

    from functime_spark.pipeline.clean import clean_corpus

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(60)
    clean, report = clean_corpus(
        docs, use_gopher=False, dedup="exact", max_tier=1, n_tiers=4,
        lm_order=3, exact_tiers=True,
    )
    rep = {r["stage"]: (r["docs_in"], r["docs_out"]) for r in report.collect()}
    n_in, n_out = rep["perplexity_tier"]
    # tiers 0..1 of 4 ~= half the corpus (exact split depends on ties)
    assert 0 < n_out < n_in and abs(n_out - n_in / 2) <= n_in * 0.2
    assert clean.count() == n_out

    with _pytest.raises(ValueError, match="lm_order"):
        clean_corpus(docs, use_gopher=False, dedup="exact", max_tier=1,
                     lm_order=4)


def test_exif_build_parse_roundtrip(spark):
    """build_exif_app1 -> parse_exif round-trips every field through
    real APP1/TIFF-IFD bytes; partial field sets, no-EXIF JPEGs, and
    corrupt EXIF behave per contract; the spliced JPEG still
    pixel-decodes identically (APP1 is transparent to the scan) AND
    javax.imageio — the independent referee — reads it."""
    import numpy as np
    import pytest as _pytest

    from functime_spark.pipeline.jpeg import decode_jpeg, encode_jpeg
    from functime_spark.pipeline.multimodal import insert_exif, parse_exif

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (8, 8)).astype(np.uint8)  # textured
    base = encode_jpeg(arr)
    full = insert_exif(
        base, make="CamX", model="M-1", orientation=6,
        datetime="2024:03:09 12:00:00",
        datetime_original="2024:03:09 13:00:00", gps=(52.52, 13.405),
    )
    assert parse_exif(full) == {
        "make": "CamX", "model": "M-1", "orientation": 6,
        "datetime": "2024:03:09 12:00:00",
        "datetime_original": "2024:03:09 13:00:00", "has_gps": True,
    }
    assert parse_exif(base) is None
    got = parse_exif(insert_exif(base, orientation=3))
    assert got["orientation"] == 3 and got["make"] is None
    assert got["has_gps"] is False
    with _pytest.raises(ValueError, match="SOI"):
        insert_exif(b"not a jpeg", make="x")
    # APP1 transparent to both decoders
    assert (decode_jpeg(full)["array"] == decode_jpeg(base)["array"]).all()
    jvm = spark.sparkContext._jvm
    bais = jvm.java.io.ByteArrayInputStream(bytearray(full))
    jimg = jvm.javax.imageio.ImageIO.read(bais)
    assert jimg.getWidth() == 8 and jimg.getHeight() == 8


def test_extract_exif_and_curate_hook(spark):
    """extract_exif over a mixed frame (full EXIF / no EXIF / corrupt
    payload) nulls the right rows; curate_media(exif=True,
    exif_where=...) emits the exif_* columns, counts the filter stage,
    and keeps the stage chain consistent."""
    import numpy as np
    from pyspark.sql import functions as F

    from functime_spark.pipeline.jpeg import encode_jpeg
    from functime_spark.pipeline.multimodal import (
        curate_media,
        extract_exif,
        insert_exif,
    )

    arr = (np.arange(64).reshape(8, 8) * 4 % 256).astype(np.uint8)
    base = encode_jpeg(arr)
    rows = [
        (1, "image", bytearray(insert_exif(
            base, make="A", datetime="2024:01:01 00:00:00")), "{}"),
        (2, "image", bytearray(insert_exif(base, make="B", gps=(1.0, 2.0))),
         "{}"),
        (3, "image", bytearray(base), "{}"),
        (4, "image", bytearray(b"\xff\xd8garbage"), "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    ex = {r["media_id"]: r for r in extract_exif(media).collect()}
    assert ex[1]["exif_make"] == "A" and ex[1]["exif_has_gps"] is False
    assert ex[2]["exif_has_gps"] is True
    assert ex[3]["exif_make"] is None and ex[3]["exif_has_gps"] is None
    assert ex[4]["exif_make"] is None  # corrupt -> all-null, no raise

    curated, report = curate_media(
        media, decoder="jpeg", exif=True,
        exif_where="exif_datetime IS NOT NULL",
    )
    rep = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in report.collect()}
    assert rep["decode"] == (4, 3)  # garbage payload dropped
    assert rep["exif"] == (3, 1)    # only id 1 carries a datetime
    assert rep["dedup"] == (1, 1)
    out = curated.collect()
    assert [r["media_id"] for r in out] == [1]
    assert out[0]["exif_make"] == "A"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exif_where"):
        curate_media(media, decoder="jpeg", exif_where="1=1")


def test_dhash_dedup_incremental_store(spark, tmp_path):
    """dhash_dedup_incremental (r10): first-batch mode reproduces
    dhash_near_dups exactly; store mode emits new-vs-store +
    new-vs-new only (never store-vs-store) and matches the full-batch
    pair set restricted to pairs touching the new batch; the persisted
    parquet store round-trips into the next day's batch; non-frame
    stores raise."""
    import numpy as np
    import pytest as _pytest

    from functime_spark.pipeline.multimodal import (
        dhash_dedup_incremental,
        dhash_media,
        dhash_near_dups,
    )

    rng = np.random.default_rng(44)

    def ppm(arr):
        h, w = arr.shape
        return b"P5\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()

    rows = []
    for i in range(8):
        base = rng.integers(0, 256, (16, 16)).astype(np.uint8)
        rows.append((2 * i, "image", bytearray(ppm(base)), "{}"))
        pert = (base.astype(np.int16) + rng.integers(-2, 3, (16, 16))).clip(
            0, 255
        ).astype(np.uint8)
        rows.append((2 * i + 1, "image", bytearray(ppm(pert)), "{}"))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )

    full = {
        frozenset((r.id_a, r.id_b))
        for r in dhash_near_dups(media, max_hamming=8).collect()
    }
    assert len(full) >= 6  # the planted even/odd perturbation pairs

    # first batch: no store -> exactly the near-dup pair set
    p0, store0 = dhash_dedup_incremental(media, max_hamming=8)
    assert {frozenset((r.id_a, r.id_b)) for r in p0.collect()} == full
    assert store0.count() == 16

    # store = evens, batch = odds
    store = dhash_media(media.filter("media_id % 2 = 0"), decoder="ppm")
    new = media.filter("media_id % 2 = 1")
    pairs, updated = dhash_dedup_incremental(new, store, max_hamming=8)
    got = pairs.collect()
    assert all(r.id_a % 2 == 1 for r in got)  # id_a always new
    want = {p for p in full if any(i % 2 == 1 for i in p)}
    assert {frozenset((r.id_a, r.id_b)) for r in got} == want

    # persist + next day: the store contract is plain parquet
    path = str(tmp_path / "phash_store")
    updated.write.parquet(path)
    day2 = spark.createDataFrame(
        [(100, "image", rows[0][2], "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    p2, _ = dhash_dedup_incremental(
        day2, spark.read.parquet(path), max_hamming=8
    )
    hits = {r.id_b for r in p2.collect()}
    assert 0 in hits  # the day-2 image duplicates media_id 0 exactly

    with _pytest.raises(TypeError, match="signature DataFrame"):
        dhash_dedup_incremental(day2, "/some/path")


def test_normalize_orientation_all_eight(spark):
    """normalize_orientation (r10): for every EXIF orientation o, an
    image stored as the INVERSE transform of a known upright array
    comes back exactly upright (shape and pixels), through both the
    TIFF tag-274 path and the JPEG APP1 path metadata-wise; payloads
    without orientation pass through untouched; garbage yields the
    null marker row; a lossy encoder choice raises."""
    import numpy as np
    import pytest as _pytest

    from functime_spark.pipeline.multimodal import (
        apply_orientation,
        decode_png,
        encode_tiff,
        normalize_orientation,
    )

    rng = np.random.default_rng(9)
    upright = rng.integers(0, 256, (4, 5)).astype(np.uint8)
    inverse = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}
    rows = [
        (o, "image",
         bytearray(encode_tiff(
             apply_orientation(upright, inverse[o]), orientation=o)),
         "{}")
        for o in range(1, 9)
    ] + [
        (9, "image", bytearray(encode_tiff(upright)), "{}"),  # no tag
        (10, "image", bytearray(b"garbage"), "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    out = {
        r["media_id"]: r
        for r in normalize_orientation(
            media, decoder="tiff", encoder="png"
        ).collect()
    }
    for o in range(1, 9):
        r = out[o]
        assert (r["width"], r["height"], r["orientation"]) == (5, 4, o)
        arr = decode_png(bytes(r["payload"]))["array"]
        assert (arr == upright).all(), f"orientation {o} mis-rotated"
    assert out[9]["orientation"] == 1
    assert (decode_png(bytes(out[9]["payload"]))["array"] == upright).all()
    assert out[10]["payload"] is None and out[10]["orientation"] is None

    with _pytest.raises(ValueError, match="lossless"):
        normalize_orientation(media, decoder="tiff", encoder="jpeg")


def test_normalize_orientation_jpeg_app1_path(spark):
    """The JPEG path reads orientation from APP1 and the decoded
    pixels of the normalized output match the numpy transform of the
    decoded input (JPEG is lossy, so compare decode-to-decode)."""
    import numpy as np

    from functime_spark.pipeline.jpeg import decode_jpeg, encode_jpeg
    from functime_spark.pipeline.multimodal import (
        decode_png,
        insert_exif,
        normalize_orientation,
    )

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, (8, 16)).astype(np.uint8)
    stored = insert_exif(encode_jpeg(arr), orientation=6)
    media = spark.createDataFrame(
        [(1, "image", bytearray(stored), "{}")],
        "media_id long, kind string, payload binary, meta string",
    )
    r = normalize_orientation(media, decoder="jpeg", encoder="png").first()
    assert (r["width"], r["height"]) == (8, 16)  # dims swapped
    want = np.rot90(decode_jpeg(stored)["array"], k=-1)
    got = decode_png(bytes(r["payload"]))["array"]
    assert (got == want).all()


# ---------------------------------------------------------------------------
# Audio constellation fingerprinting (r11)
# ---------------------------------------------------------------------------


def _fp_wav_bytes(samples, rate=8000, channels=1):
    import io
    import wave

    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return bio.getvalue()


def _fp_group_signal(g, n=1000):
    """Slope-varied sawtooth (the media_audio_dups gate formula): the
    slope, not the offset, must vary by group or every group shares
    one magnitude spectrum (a mod-65536 ramp offset is a pure phase
    shift)."""
    u = (np.arange(n) * (104729 + 2741 * g)) % 65536
    return np.where(u < 32768, u, u - 65536).astype(np.int16)


def test_audio_fingerprint_kernel_invariances():
    """The landmark set is invariant to amplitude scaling (peak picking
    is argmax + above-mean, both linear), is PRESERVED (subset) under
    trailing-silence padding (old frames keep their anchors; pure-zero
    frames emit no peaks), and survives an 8k->16k linear resample with
    >= min_matches shared hashes — the absolute-frequency quantization
    qbin = round(f_hz * win_s) puts both rates on the same bins."""
    from functime_spark.pipeline.audio import audio_fingerprints_from_signal
    from functime_spark.pipeline.multimodal import decode_wav, resample_wav

    for g in range(5):
        x = _fp_group_signal(g)
        base = set(audio_fingerprints_from_signal(x, 8000))
        assert len(base) >= 5

        # amplitude scale (int16 re-quantized at half level)
        half = (x.astype(np.float64) * 0.5).astype(np.int16)
        assert set(audio_fingerprints_from_signal(half, 8000)) == base

        # trailing silence: different bytes, superset fingerprints
        padded = np.concatenate([x, np.zeros(512, dtype=np.int16)])
        assert set(audio_fingerprints_from_signal(padded, 8000)) >= base

        # 8k -> 16k linear resample through the real codec path
        d16 = decode_wav(resample_wav(_fp_wav_bytes(x), 16000))
        hs16 = set(
            audio_fingerprints_from_signal(d16["array"], d16["rate"])
        )
        assert len(base & hs16) >= 5

    # distinct group signals share nothing
    s0 = set(audio_fingerprints_from_signal(_fp_group_signal(0), 8000))
    s1 = set(audio_fingerprints_from_signal(_fp_group_signal(1), 8000))
    assert not (s0 & s1)

    # degenerate inputs
    assert audio_fingerprints_from_signal(np.array([], dtype=np.int16), 8000) == []
    assert (
        audio_fingerprints_from_signal(np.zeros(2000, dtype=np.int16), 8000)
        == []
    )


def test_audio_near_dups_spark(spark):
    """audio_near_dups end-to-end: byte-identical copies, a trailing-
    silence copy and a resampled copy all pair up (>= min_matches
    shared landmarks); a different-signal clip pairs with nothing; a
    corrupt payload is dropped, not fatal."""
    from functime_spark.pipeline.audio import audio_near_dups
    from functime_spark.pipeline.multimodal import resample_wav

    a = _fp_group_signal(1)
    b = _fp_group_signal(2)
    wav_a = _fp_wav_bytes(a)
    rows = [
        (1, "audio", bytearray(wav_a), "{}"),
        (2, "audio", bytearray(wav_a), "{}"),  # exact copy
        (3, "audio", bytearray(_fp_wav_bytes(
            np.concatenate([a, np.zeros(512, dtype=np.int16)])
        )), "{}"),  # padded near-dup
        (4, "audio", bytearray(resample_wav(wav_a, 16000)), "{}"),
        (5, "audio", bytearray(_fp_wav_bytes(b)), "{}"),  # unrelated
        (6, "audio", bytearray(b"not a wav"), "{}"),  # corrupt
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_matches"]
        for r in audio_near_dups(media, decoder="wav").collect()
    }
    dup_ids = {1, 2, 3, 4}
    expected = {
        (i, j) for i in dup_ids for j in dup_ids if i < j
    }
    assert set(pairs) == expected
    for v in pairs.values():
        assert v >= 5
    # the padded clip's landmark SUPERSET means its match count with
    # the original equals the exact-copy match count (= |base set|)
    assert pairs[(1, 2)] == pairs[(1, 3)]


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (r11)
# ---------------------------------------------------------------------------


def test_unigram_fit_tokenize_roundtrip(spark):
    """fit_unigram on a tiny corpus: coverage (every training char in
    the vocab), vocab_size cap, probs normalized over the kept set
    (sum == (T'+aV')/(T'+aV') == 1 by the smoothing identity), and
    unigram_tokenize counts equal a driver-side viterbi_pieces replay
    word-for-word. NULL text -> (0, 0, None); OOV chars segment to
    singles at the UNK floor."""
    from functime_spark.pipeline.unigram import (
        fit_unigram,
        unigram_tokenize,
        unigram_vocab,
        viterbi_pieces,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ate the rat"),
         (3, "thematic the them theme"), (4, None),
         (5, "catcat matmat the")],
        "doc_id long, text string",
    )
    pieces = fit_unigram(
        docs, vocab_size=24, max_piece_len=3, em_rounds=2,
        seed_size=16, max_words=50, max_word_len=8,
    )
    toks = [t for t, _ in pieces]
    assert len(pieces) == 24
    assert "the" in toks and "cat" in toks
    chars = set("thecatsatonmatterateic")
    assert chars <= {t for t in toks if len(t) == 1} | {
        c for t in toks for c in t
    }
    assert all(len(t) == 1 for t in toks if len(t) == 1)  # singles kept
    assert abs(sum(p for _, p in pieces) - 1.0) < 1e-12
    # ranks are (p DESC, token ASC)
    ps = [p for _, p in pieces]
    assert ps == sorted(ps, reverse=True)

    pr = dict(pieces)
    rows = {r["doc_id"]: r for r in unigram_tokenize(docs, pieces).collect()}
    for did, text in [(1, "the cat sat on the mat"), (5, "catcat matmat the")]:
        words = text.split()
        want = sum(len(viterbi_pieces(w, pr, 3)) for w in words)
        assert rows[did]["n_unigram_tokens"] == want
        assert rows[did]["n_words"] == len(words)
        assert abs(rows[did]["tokens_per_word"] - want / len(words)) < 1e-12
    assert (rows[4]["n_words"], rows[4]["n_unigram_tokens"]) == (0, 0)
    assert rows[4]["tokens_per_word"] is None

    # OOV: every char falls back to the UNK floor, nothing crashes
    assert viterbi_pieces("zqzq", pr, 3) == ["z", "q", "z", "q"]

    vdf = unigram_vocab(pieces, spark)
    assert vdf.count() == 24
    assert [f.name for f in vdf.schema.fields] == ["rank", "token", "p"]


def test_unigram_viterbi_brute_force_referee():
    """Independent referee: for every <= 8-char word, enumerate ALL
    2^(n-1) segmentations into known pieces (+ UNK singles), compute
    the probability product left-to-right, and check viterbi_pieces
    lands on the maximum product (IEEE-exact comparison — the DP and
    the enumeration multiply in the same left-to-right order)."""
    from functime_spark.pipeline.unigram import UNK_P, viterbi_pieces

    probs = {
        "t": 0.05, "h": 0.04, "e": 0.06, "m": 0.03, "a": 0.05,
        "c": 0.02, "the": 0.2, "he": 0.07, "them": 0.01, "at": 0.09,
        "cat": 0.11, "ma": 0.04,
    }

    def all_segs(w):
        if not w:
            yield []
            return
        for l in range(1, min(3, len(w)) + 1):
            head = w[:l]
            p = probs.get(head)
            if p is None:
                if l != 1:
                    continue
                p = UNK_P
            for rest in all_segs(w[l:]):
                yield [(head, p)] + rest

    for w in ["the", "them", "thematic", "cat", "catcat", "zebra",
              "mathe", "hematc", "tthhee"]:
        best = None
        for seg in all_segs(w):
            score = 1.0
            for _, p in seg:
                score = score * p
            if best is None or score > best:
                best = score
        got = viterbi_pieces(w, probs, 3)
        score = 1.0
        for piece in got:
            score = score * probs.get(piece, UNK_P)
        assert score == best, (w, got, score, best)
        assert "".join(got) == w


def test_unigram_quality_tiers_composition(spark):
    """The fertility hook: unigram_tokenize output feeds quality_tiers
    directly on tokens_per_word — badly-segmenting docs land in the
    top tiers."""
    from functime_spark.pipeline.lm import quality_tiers
    from functime_spark.pipeline.unigram import fit_unigram, unigram_tokenize

    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows += [(100 + i, "zq xv qqq zzz vvv xx") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pieces = fit_unigram(
        docs, vocab_size=24, max_piece_len=3, em_rounds=1,
        seed_size=16, max_words=50, max_word_len=8,
    )
    scored = unigram_tokenize(docs, pieces)
    tiers = quality_tiers(
        scored, n_tiers=2, score_col="tokens_per_word", exact=True
    )
    got = {r["doc_id"]: r["tier"] for r in tiers.collect()}
    # the clean sentence segments with fewer tokens/word -> tier 0
    assert got[0] == 0 and got[101] == 1


def test_audio_near_dups_offset_coherent(spark):
    """Wang-style offset voting: a leading-silence copy (2 hops of
    zeros) pairs with the original at offset -2 (original anchors sit
    2 frames EARLIER), an exact copy at offset 0, and the unrelated
    clip still pairs with nothing; kernel-level, the (t, hash) variant
    projects onto the plain hash set."""
    from functime_spark.pipeline.audio import (
        audio_fingerprints_from_signal,
        audio_near_dups,
    )

    a = _fp_group_signal(1)
    b = _fp_group_signal(2)
    th = audio_fingerprints_from_signal(a, 8000, with_time=True)
    assert {h for _, h in th} == set(audio_fingerprints_from_signal(a, 8000))

    shifted = np.concatenate([np.zeros(512, dtype=np.int16), a])
    rows = [
        (1, "audio", bytearray(_fp_wav_bytes(a)), "{}"),
        (2, "audio", bytearray(_fp_wav_bytes(a)), "{}"),
        (3, "audio", bytearray(_fp_wav_bytes(shifted)), "{}"),
        (4, "audio", bytearray(_fp_wav_bytes(b)), "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    out = {
        (r["id_a"], r["id_b"]): (r["offset"], r["n_matches"])
        for r in audio_near_dups(
            media, decoder="wav", offset_coherent=True
        ).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    assert out[(1, 2)][0] == 0
    assert out[(1, 3)][0] == -2 and out[(2, 3)][0] == -2
    for off, n in out.values():
        assert n >= 5


def test_audio_dedup_incremental_store_roundtrip(spark, tmp_path):
    """Incremental audio dedup: first batch -> store persisted to
    parquet -> second batch checked against the loaded store without
    re-decoding; new-vs-store pairs carry the new id first,
    store-vs-store pairs never re-emit, and the updated store equals
    store + new fingerprints."""
    from functime_spark.pipeline.audio import audio_dedup_incremental

    def media(rows):
        return spark.createDataFrame(
            [
                (i, "audio", bytearray(_fp_wav_bytes(_fp_group_signal(g))), "{}")
                for i, g in rows
            ],
            "media_id long, kind string, payload binary, meta string",
        )

    day1 = media([(1, 1), (2, 1), (3, 2)])
    pairs1, store1 = audio_dedup_incremental(day1, None, decoder="wav")
    assert {(r.id_a, r.id_b) for r in pairs1.collect()} == {(1, 2)}

    path = str(tmp_path / "fp_store")
    store1.write.parquet(path)
    store = spark.read.parquet(path)

    # day 2: one dup of group 1, one dup of group 2, one fresh group
    day2 = media([(10, 1), (11, 2), (12, 4)])
    pairs2, store2 = audio_dedup_incremental(day2, store, decoder="wav")
    got = {(r.id_a, r.id_b) for r in pairs2.collect()}
    # new-vs-new: none (all different groups); new-vs-store: 10 hits
    # both group-1 clips, 11 hits the group-2 clip; (1,2) NOT re-emitted
    assert got == {(10, 1), (10, 2), (11, 3)}
    # store invariant: updated = store ∪ new fingerprints
    from functime_spark.pipeline.audio import audio_fingerprints

    want = store.count() + audio_fingerprints(day2, decoder="wav").count()
    assert store2.count() == want


def test_audio_dedup_incremental_no_self_pairs_on_repeated_hashes(spark):
    """r12 regression (VERDICT r11 item 1): a clip whose fingerprint
    multiset contains >= min_matches REPEATED hashes (periodic/tonal
    audio repeats (f1, f2, dt) across anchors; surfaced via the
    with_time kernel kwarg — the default path dedups per clip) must not
    self-report as its own duplicate. The sorted bucket struct only
    guarantees a.id <= b.id when one clip contributes the same fp
    twice, so the new-vs-new path needs the explicit a.id < b.id
    filter audio_near_dups always kept."""
    from functime_spark.pipeline.audio import (
        audio_dedup_incremental,
        audio_fingerprints_from_signal,
    )

    # period-256 sawtooth, 11 identical 512-sample frames at hop 256:
    # every frame shares one peak set, so each (f1, f2, dt) hash
    # repeats across anchors — the repeated-hash fingerprint multiset
    x = np.tile(
        _fp_group_signal(1, n=256), 12
    )
    fps = audio_fingerprints_from_signal(
        np.asarray(x, dtype=np.int16), 8000, with_time=True
    )
    from collections import Counter

    rep = Counter(h for _, h in fps)
    # the fixture must actually exercise the corner: >= 2 anchors share
    # a hash and the same-clip bucket fan-out reaches min_matches
    assert sum(c * (c - 1) // 2 for c in rep.values()) >= 5

    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(_fp_wav_bytes(x)), "{}"),
            (2, "audio", bytearray(_fp_wav_bytes(x)), "{}"),
        ],
        "media_id long, kind string, payload binary, meta string",
    )
    pairs, _ = audio_dedup_incremental(
        media, None, decoder="wav", with_time=True
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}  # the real dup pair, and NO (1,1)/(2,2)


def test_unigram_fit_empty_corpus(spark):
    """Empty / whitespace-only / all-null corpora fit to an empty
    vocabulary instead of dividing by zero; tokenize under it falls
    back to UNK singles."""
    from functime_spark.pipeline.unigram import fit_unigram, unigram_tokenize

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    pieces = fit_unigram(docs, vocab_size=16, max_piece_len=3)
    assert pieces == []
    rows = {r["doc_id"]: r for r in unigram_tokenize(docs, pieces).collect()}
    assert all(r["n_words"] == 0 for r in rows.values())


def test_video_near_dups_offset_and_robustness(spark):
    """Video dedup triad member end-to-end: an exact copy pairs at
    offset 0 with all 8 frames matching; a 2-frame-trimmed copy at
    offset 2 (original frame j+2 sits where the trimmed clip's j is);
    a quality-50 re-encode still matches frame-for-frame (the
    level-walk frames' >= 98 separations survive requantization); an
    unrelated clip pairs with nothing (md5-mixed classes sit >= 10
    hamming apart); corrupt payloads drop; every_n sampling keeps
    offsets in ORIGINAL frame units."""
    import hashlib

    import numpy as np

    from functime_spark.pipeline.mjpeg import encode_mjpeg_avi
    from functime_spark.pipeline.multimodal import video_near_dups

    def frame(G, J):
        p = np.zeros((8, 9), dtype=np.uint8)
        for y in range(8):
            s = 0
            for x in range(9):
                p[y, x] = 30 + 98 * ((x + s) % 3)
                h = hashlib.md5(f"{G}-{J}-{y}-{x}".encode()).hexdigest()
                s += int(h[0], 16) % 2
        return np.kron(p, np.ones((8, 8), dtype=np.uint8))

    a = [frame(11, j) for j in range(8)]
    b = [frame(22, j) for j in range(8)]
    rows = [
        (1, "video", bytearray(encode_mjpeg_avi(a, quality=85)), "{}"),
        (2, "video", bytearray(encode_mjpeg_avi(a, quality=85)), "{}"),
        (3, "video", bytearray(encode_mjpeg_avi(a[2:], quality=85)), "{}"),
        (4, "video", bytearray(encode_mjpeg_avi(a, quality=50)), "{}"),
        (5, "video", bytearray(encode_mjpeg_avi(b, quality=85)), "{}"),
        (6, "video", bytearray(b"not an avi"), "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    got = {
        (r.id_a, r.id_b): (r.offset, r.n_matches)
        for r in video_near_dups(media, min_matches=4).collect()
    }
    dup_ids = {1, 2, 3, 4}
    assert set(got) == {(i, j) for i in dup_ids for j in dup_ids if i < j}
    assert got[(1, 2)] == (0, 8)
    # original frame j+2 == trimmed frame j -> offset (j+2) - j = 2
    assert got[(1, 3)] == (2, 6)
    assert got[(1, 4)] == (0, 8)
    assert got[(3, 4)] == (-2, 6)

    # frame sampling: every_n=2 decodes half the frames but offsets
    # stay in original units (sampled idx 0,2,4,6 on both sides)
    sampled = {
        (r.id_a, r.id_b): (r.offset, r.n_matches)
        for r in video_near_dups(media, every_n=2, min_matches=2).collect()
    }
    assert sampled[(1, 2)] == (0, 4)
    assert (1, 5) not in sampled


# -- r11 optimization-round identity pins: Arrow kernels must emit the
#    bit-exact values of the JVM expression forms they replaced --------


def test_minhash_signature_kernel_matches_expressions(docs):
    """The xxhash64 production path's Arrow lane kernel (r11) must be
    bit-identical to the array_min(transform(xxhash64(lit(i), h)))
    expression chain it replaced — XXH64 is pure integer math, so the
    two engines must agree exactly, lane for lane."""
    from functime_spark.pipeline.dedup import minhash_signatures, shingles

    n_hashes = 8
    new = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(docs, n_hashes=n_hashes).collect()
    }
    sh = shingles(F.col("text"), 3)
    withsh = docs.select(F.col("doc_id"), sh.alias("__sh")).select(
        F.col("doc_id"),
        F.transform(F.col("__sh"), lambda s: F.xxhash64(s)).alias("__hs"),
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("__hs"), lambda h: F.xxhash64(F.lit(i), h))
            )
            for i in range(n_hashes)
        ]
    )
    old = {
        r["doc_id"]: list(r["sig"])
        for r in withsh.select(F.col("doc_id"), sig.alias("sig")).collect()
    }
    assert new == old


def test_ivf_assign_and_pq_encode_kernels_match_expressions(emb):
    """IVFIndex.assign / PQCodebook.encode Arrow kernels (r11) must
    reproduce the HOF expression arithmetic exactly: same left-fold
    distance accumulation, same first-min argmin ties."""
    from functime_spark.pipeline.similarity import (
        IVFIndex,
        PQCodebook,
        _staged_centroid_dists,
    )

    ivf = IVFIndex(n_cells=4, init="spread").fit(emb)
    got = {
        r["vec_id"]: r["__cell"] for r in ivf.assign(emb).collect()
    }
    staged = _staged_centroid_dists(emb, ivf.centroids, "embedding")
    cell = (F.array_position("__dd", F.array_min("__dd")) - 1).cast("int")
    want = {
        r["vec_id"]: r["__cell"]
        for r in staged.withColumn("__cell", cell).drop("__dd").collect()
    }
    assert got == want

    pq = PQCodebook(n_subspaces=4, ksub=8, n_iter=2, init="spread").fit(emb)
    got_codes = {
        r["vec_id"]: list(r["__codes"]) for r in pq.encode(emb).collect()
    }
    # expression form, inline (the pre-r11 encode body)
    spark = emb.sparkSession
    dsub = pq.codebooks.shape[2]
    cb = spark.createDataFrame(
        [([[list(map(float, c)) for c in book] for book in pq.codebooks],)],
        "__cb array<array<array<double>>>",
    )
    v = F.col("embedding").cast("array<double>")

    def code_for(mcol):
        sub = F.slice(v, mcol * dsub + 1, dsub)
        dd = F.transform(
            F.element_at("__cb", (mcol + 1).cast("int")),
            lambda cen: F.aggregate(
                F.zip_with(sub, cen, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return (F.array_position(dd, F.array_min(dd)) - 1).cast("int")

    codes = F.transform(F.sequence(F.lit(0), F.lit(pq.m - 1)), code_for)
    want_codes = {
        r["vec_id"]: list(r["__codes"])
        for r in emb.crossJoin(F.broadcast(cb))
        .withColumn("__codes", codes)
        .drop("__cb")
        .collect()
    }
    assert got_codes == want_codes


def test_bucket_pairs_matches_cap_window_self_join(spark):
    """_bucket_pairs must emit exactly the candidate set of the
    cap-window + null-safe self-join, including the bucket wall: a hot
    key at 10x the cap and an over-cap NULL-key bucket drop whole,
    while an under-cap NULL-key bucket still pairs. _store_pairs adds
    exactly the cap-window equi-join against a store, each side capped
    on its own: a key hot on one side only pairs nothing across, and a
    NULL key pairs within the batch but never across."""
    from functime_spark.pipeline.dedup import (
        _bucket_pairs,
        _cap_buckets,
        _store_pairs,
    )

    cap = 10
    rows = (
        [(i, 0, i % 7) for i in range(60)]
        + [(100 + i, 0, 99) for i in range(10 * cap)]  # hot key
        + [(300 + i, 0, None) for i in range(cap + 2)]  # over-cap NULL
        + [(400 + i, 1, None) for i in range(3)]  # under-cap NULL
    )
    df = spark.createDataFrame(rows, "id long, g long, b long")
    keys = ["g", "b"]
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in _bucket_pairs(df, keys, cap, ["id"]).collect()
    }
    capped = _cap_buckets(df, keys, cap)
    j = capped.alias("x").join(
        capped.alias("y"),
        F.col("x.g").eqNullSafe(F.col("y.g"))
        & F.col("x.b").eqNullSafe(F.col("y.b"))
        & (F.col("x.id") < F.col("y.id")),
    )
    want = {
        (r["xi"], r["yi"])
        for r in j.select(
            F.col("x.id").alias("xi"), F.col("y.id").alias("yi")
        ).collect()
    }
    assert got == want
    assert all(a < b for a, b in got)
    assert {(400, 401), (400, 402), (401, 402)} <= got
    assert not any(a >= 100 and a < 400 for a, _ in got)

    store_rows = (
        [(1000 + i, 0, i % 3) for i in range(9)]
        + [(1100 + i, 0, 3) for i in range(10 * cap)]  # hot in the store only
        + [(1300 + i, 0, 99) for i in range(2)]  # hot in the batch only
        + [(1400 + i, 1, None) for i in range(2)]  # NULL key on both sides
    )
    store = spark.createDataFrame(store_rows, "id long, g long, b long")
    got_store = sorted(
        (r["a"]["id"], r["b"]["id"])
        for r in _store_pairs(df, store, keys, cap, ["id"]).collect()
    )
    cross = capped.alias("x").join(
        _cap_buckets(store, keys, cap).alias("y"),
        (F.col("x.g") == F.col("y.g")) & (F.col("x.b") == F.col("y.b")),
    )
    want_cross = [
        (r["xi"], r["yi"])
        for r in cross.select(
            F.col("x.id").alias("xi"), F.col("y.id").alias("yi")
        ).collect()
    ]
    assert got_store == sorted(list(want) + want_cross)
    assert not any(b >= 1100 for _, b in got_store)
    assert any(1000 <= b < 1100 for _, b in got_store)


def test_cosine_topk_kernel_matches_expression(emb):
    """cosine_topk's Arrow kernel (r11) must reproduce the fold
    expression's cosine bit-for-bit so the TakeOrdered cut is
    unchanged."""
    from functime_spark.pipeline.similarity import _dot, _norm, cosine_topk

    qvec = [float(i % 7) / 7.0 for i in range(64)]
    got = [(r["vec_id"], r["cosine"]) for r in cosine_topk(emb, qvec, k=20).collect()]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    v = F.col("embedding").cast("array<double>")
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    want = [
        (r["vec_id"], r["cosine"])
        for r in emb.select(F.col("vec_id"), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(20)
        .collect()
    ]
    assert got == want
