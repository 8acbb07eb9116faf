"""Unit tests for text/similarity operators on controlled fixtures."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.operators.similarity import (
    cosine,
    hyperplane_signs,
    l2_norm,
    lsh_bucket,
)
from nyc_taxi_pyspark_spark.operators.text import (
    exact_dedup,
    near_dup_pairs,
    predict_lang,
    simhash16,
    word_shingles,
    tokens,
)


def test_shingles_and_edge_cases(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("x y z",)], "text string"
    )
    rows = df.select(word_shingles(tokens()).alias("sh")).collect()
    assert rows[0].sh == ["a b c", "b c d"]
    assert rows[1].sh == []  # below k → empty, not null
    assert rows[2].sh == ["x y z"]


def test_near_dup_finds_planted_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different words forming another sentence entirely here now"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = near_dup_pairs(docs).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_exact_dedup_survivor_is_min_id(spark):
    docs = spark.createDataFrame(
        [(5, "same text"), (2, "same text"), (9, "unique")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert out == {2: 2, 9: 1}


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "spark query engine with hash join and sort merge"),
            (2, "spark query engine with hash join and sort spill"),
            (3, "unrelated gardening tips for tomato plants in spring"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", simhash16(F.array_distinct(tokens())).alias("sh")
        ).collect()
    }

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(rows[1], rows[2]) < hamming(rows[1], rows[3])


def test_lang_id_on_real_text(spark):
    df = spark.createDataFrame(
        [
            ("en", "the cat sat on the mat and looked at a bird in the garden"),
            ("es", "el gato que vive en la casa de los vecinos es muy grande"),
            ("de", "der hund und die katze sind nicht in das haus gegangen"),
            ("fr", "le chien et les chats sont dans une maison pres des arbres"),
        ],
        "lang string, text string",
    )
    rows = df.select(
        "lang", predict_lang(F.array_distinct(tokens())).alias("pred")
    ).collect()
    for r in rows:
        assert r.pred == r.lang, f"{r.lang} predicted as {r.pred}"


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a = rng.normal(size=8).astype("float32")
    b = rng.normal(size=8).astype("float32")
    df = spark.createDataFrame(
        [(a.tolist(), b.tolist())], "va array<float>, vb array<float>"
    )
    got = df.select(cosine("va", "vb").alias("c")).first().c
    ad, bd = a.astype("float64"), b.astype("float64")
    want = float(ad @ bd / (np.linalg.norm(ad) * np.linalg.norm(bd)))
    assert math.isclose(got, want, rel_tol=1e-9)
    nrm = df.select(l2_norm("va").alias("n")).first().n
    assert math.isclose(nrm, float(np.linalg.norm(ad)), rel_tol=1e-9)


def test_lsh_bucket_matches_python_reference(spark):
    """The Spark bucket must equal a pure-Python recomputation from the same
    md5-parity hyperplanes — proving the constants are engine-portable."""
    rng = np.random.default_rng(11)
    v = rng.normal(size=64).astype("float32")
    df = spark.createDataFrame([(v.tolist(),)], "embedding array<float>")
    got = df.select(lsh_bucket("embedding").alias("b")).first().b
    planes = hyperplane_signs()
    want = "".join(
        "1" if sum(float(x) * s for x, s in zip(v, p)) > 0 else "0"
        for p in planes
    )
    assert got == want


def test_salted_exact_dedup_matches_plain_on_hot_key(spark):
    """Extreme-skew dedup: one fingerprint holds ~90% of rows. The salted
    two-phase form must return bit-identical results to the single-shuffle
    form, and its plan must contain the extra partial aggregate level."""
    from nyc_taxi_pyspark_spark.operators.text import exact_dedup, exact_dedup_salted

    hot = [(i, "the same boilerplate document") for i in range(9000)]
    cold = [(10_000 + i, f"unique document number {i}") for i in range(1000)]
    docs = spark.createDataFrame(hot + cold, "doc_id bigint, text string")

    plain = {(r.fp, r.doc_id, r.n_copies) for r in exact_dedup(docs).collect()}
    salted = {
        (r.fp, r.doc_id, r.n_copies) for r in exact_dedup_salted(docs).collect()
    }
    assert plain == salted
    assert len(salted) == 1001  # 1 hot fp + 1000 unique
    hot_row = [t for t in salted if t[2] == 9000]
    assert hot_row and hot_row[0][1] == 0  # min-id survivor

    # the salted plan aggregates twice: (fp, salt) partials then fp finals
    plan = exact_dedup_salted(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") >= 2


def test_simhash_pairs_exact_banding(spark):
    """Banded Hamming-pair extraction must equal brute force (pigeonhole:
    radius 3, 4 bands), find the planted near-identical pair, and reject
    a radius the band count cannot certify."""
    import itertools

    import pytest

    from nyc_taxi_pyspark_spark.operators.text import (
        simhash32,
        simhash_near_dup_pairs,
    )

    texts = [
        (1, "spark query engine with hash join and sort merge"),
        (2, "spark query engine with hash join and sort spill"),
        (3, "unrelated gardening tips for tomato plants in spring"),
        (4, "completely different corpus about marine biology and reefs"),
        # same token SET as doc 1 (reordered + repeated words): simhash is
        # set-based, so the pair must land at Hamming 0
        (5, "merge sort and join hash with engine query spark spark"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dup_pairs(df).collect()
    }

    from nyc_taxi_pyspark_spark.operators.text import SIMHASH_SALTS

    dw = F.array_distinct(tokens())
    sigs = {
        r.doc_id: [r[f"s{i}"] for i in range(len(SIMHASH_SALTS))]
        for r in df.select(
            "doc_id",
            *[
                simhash32(dw, s).alias(f"s{i}")
                for i, s in enumerate(SIMHASH_SALTS)
            ],
        ).collect()
    }
    brute = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = sum(
            bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b])
        )
        if h <= 3:
            brute[(a, b)] = h
    assert got == brute
    assert (1, 5) in got  # one-word suffix: near-identical token sets

    with pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=7)


def test_int8_cosine_tracks_exact(spark):
    """Quantized cosine must agree with exact float cosine to the int8
    quantization error bound, and rank a near-duplicate vector first."""
    from nyc_taxi_pyspark_spark.operators.similarity import (
        int8_cosine,
        int8_quantize,
        int8_quantize_py,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=16).tolist()
    near = [x + 0.001 for x in base]
    far = rng.normal(size=16).tolist()
    df = spark.createDataFrame(
        [(1, near), (2, far)], "vec_id long, embedding array<double>"
    )
    qq = int8_quantize_py(base)
    out = (
        df.select(
            "vec_id",
            int8_cosine(int8_quantize.sql("embedding"), qq).alias("c8"),
        )
        .orderBy(F.desc("c8"))
        .collect()
    )
    assert [r.vec_id for r in out] == [1, 2]

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    exact = {1: cos(base, near), 2: cos(base, far)}
    for r in out:
        assert abs(r.c8 - exact[r.vec_id]) < 0.02


def test_int8_quantize_zero_vector_is_zero(spark):
    from nyc_taxi_pyspark_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame([(1, [0.0] * 4)], "vec_id long, embedding array<double>")
    row = df.select(int8_quantize("embedding").alias("q")).head()
    assert list(row.q) == [0, 0, 0, 0]


def test_connected_components_transitive_chain(spark):
    """a-b, b-c chain must land in ONE cluster labeled min(a,b,c); the
    disjoint pair keeps its own min label."""
    from nyc_taxi_pyspark_spark.operators.text import connected_components

    edges = spark.createDataFrame(
        [(20, 30), (30, 10), (50, 40)], "doc_a long, doc_b long"
    )
    out = {r.id: r.label for r in connected_components(edges).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_connected_components_empty_edges(spark):
    from nyc_taxi_pyspark_spark.operators.text import connected_components

    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(edges).count() == 0


def test_split_assign_is_stable_and_partitions(spark):
    """Hash-based split: same id → same split on any run/partitioning, and
    all three splits appear at plausible rates."""
    from nyc_taxi_pyspark_spark.operators.text import split_assign

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.s for r in df.select("doc_id", split_assign().alias("s")).collect()}
    b = {
        r.doc_id: r.s
        for r in df.repartition(13)
        .select("doc_id", split_assign().alias("s"))
        .collect()
    }
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]
    assert abs(c["train"] / 2000 - 0.8) < 0.05


def test_stratified_sample_rates_and_determinism(spark):
    from nyc_taxi_pyspark_spark.catalog.aggregates import stratified_sample

    a = {r.event_type: r.n_sampled for r in stratified_sample(spark, "/root/testdata/sf0.01").collect()}
    b = {r.event_type: r.n_sampled for r in stratified_sample(spark, "/root/testdata/sf0.01").collect()}
    assert a == b  # same session+partitioning → identical sample
    # full-fraction strata keep every row; fractional strata roughly track
    assert a["purchase"] == 1981 and a["error"] == 2014
    assert 100 < a["view"] < 300 and 700 < a["click"] < 1300


def test_ann_recall_queries(spark):
    """embed_ann_recall runs and reports the honest top-k recall shape;
    embed_ann_near_recall pins the near-neighbor (sim >= 0.5) contract the
    multi-table index is built for: recall >= 0.9 with full coverage of the
    planted pairs at sf0.01."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    row = QUERIES["embed_ann_recall"](spark, "/root/testdata/sf0.01").head()
    assert row.n_queries == 20 and row.k == 10
    assert 0.0 < row.mean_recall_at_k <= 1.0
    assert row.min_recall_at_k >= 0.1  # the query itself is always retrieved

    near = QUERIES["embed_ann_near_recall"](spark, "/root/testdata/sf0.01").head()
    assert near.n_tables == 12 and near.n_relevant_pairs >= 2
    assert near.recall >= 0.9


def test_ivf_recall_curve(spark):
    """The n_probe dial must be monotone and anchor at recall 1.0 when all
    cells are probed (exhaustive scan) — this anchors the whole recall
    harness: any join/ranking bug would break exactness at n_probe=8."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    rows = sorted(
        QUERIES["embed_ivf_recall"](spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == [1, 2, 4, 8]
    recalls = [r.mean_recall_at_k for r in rows]
    assert recalls == sorted(recalls)  # more probes never hurt
    assert rows[-1].mean_recall_at_k == 1.0 and rows[-1].min_recall_at_k == 1.0
    assert all(r.n_queries == 20 for r in rows)


def test_ivf_train_recovers_obvious_clusters(spark):
    from nyc_taxi_pyspark_spark.operators.similarity import ivf_train

    # Two tight clusters around e0 and e1; seeds (ids 1, 2) start one in
    # each cluster. After 2 Lloyd rounds every vector must sit with its
    # cluster, and the result must be run-to-run identical.
    rows = [
        (1, [1.0, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.1, 0.0]),
        (3, [0.9, 0.0, 0.1, 0.0]),
        (4, [0.1, 1.1, 0.0, 0.0]),
        (5, [1.1, 0.1, 0.1, 0.0]),
        (6, [0.0, 0.9, 0.0, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.cell for r in ivf_train(df, k=2).collect()}
    assert out == {1: 1, 3: 1, 5: 1, 2: 2, 4: 2, 6: 2}
    again = {r.vec_id: r.cell for r in ivf_train(df, k=2).collect()}
    assert out == again


def test_pq_seed_vectors_have_zero_error(spark):
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    out = {
        r.vec_id: r
        for r in QUERIES["embed_pq_codes"](spark, "/root/testdata/sf0.001").collect()
    }
    # Each codebook seed (ids 1..4) is its own nearest code in every
    # subspace: code string is its id 8 times, reconstruction error 0.
    for cid in (1, 2, 3, 4):
        assert out[cid].pq_code == "|".join([str(cid)] * 8)
        assert out[cid].recon_err_q == 0
    # Non-seed vectors quantize WITH loss (codes exist, error > 0).
    others = [r for r in out.values() if r.vec_id > 4]
    assert others and all(r.recon_err_q > 0 for r in others)


def test_pq_search_orders_by_adc(spark):
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    rows = QUERIES["embed_pq_search"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    vals = [r.adc_q for r in rows]
    assert vals == sorted(vals) and all(v >= 0 for v in vals)
    # ADC is code-granular: every vector sharing the top hit's codes gets
    # the same score, so the winner's ADC equals the global minimum.
    assert rows[0].adc_q == min(vals)


def test_ivfpq_is_pruned_pq_search(spark):
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    full = {r.vec_id: r.adc_q for r in QUERIES["embed_pq_search"](spark, sf).collect()}
    pruned = QUERIES["embed_ivfpq_search"](spark, sf).collect()
    assert 0 < len(pruned) <= 10
    # Cell pruning only removes candidates: the pruned winner can never
    # beat the global ADC winner, and any shared hit scores identically.
    assert pruned[0].adc_q >= min(full.values())
    for r in pruned:
        if r.vec_id in full:
            assert full[r.vec_id] == r.adc_q


def test_knn_join_contract(spark):
    """Batch kNN-join: per-query ranks are dense from 1, capped at 3, never
    self-referential, and ordered by descending similarity."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    rows = QUERIES["embed_knn_join"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "bucketed corpus should yield at least one neighbor pair"
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.id_q != r.id_n and -1.0 <= r.cosine_sim <= 1.0
        by_q.setdefault(r.id_q, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank_n)
        assert [r.rank_n for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        sims = [r.cosine_sim for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_bloom_prefilter_no_false_negatives(spark):
    """Bloom contract: every exact dup must be maybe_present; false
    positives are allowed but should be rare at M=16384/K=4 for this
    corpus size."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    rows = QUERIES["corpus_bloom_prefilter"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    assert all(r.maybe_present == 1 for r in rows if r.is_exact_dup == 1)
    clean = [r for r in rows if r.is_exact_dup == 0]
    fp_rate = sum(r.maybe_present for r in clean) / max(len(clean), 1)
    assert fp_rate < 0.05, f"false-positive rate {fp_rate}"


def test_cms_never_underestimates(spark):
    """Count-min contract: one-sided error — the sketch estimate is >= the
    exact count for every probe, and exact for most at D=4/W=1024."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    rows = QUERIES["text_cms_counts"](spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 8
    assert all(r.overestimate >= 0 for r in rows)
    assert all(r.cms_count >= r.true_count > 0 for r in rows)


def test_mrl_recall_high_on_mrl_spectrum_low_on_noise(spark):
    """The Matryoshka path's recall tracks the embedding SPECTRUM: on
    prefix-concentrated vectors (what MRL training produces — energy
    decaying with dimension index) the 16-dim coarse stage preserves the
    full ranking and recall@10 exceeds 0.9; on isotropic noise the same
    operator honestly reports much lower recall."""
    import math
    import random

    from nyc_taxi_pyspark_spark.operators.similarity import (
        l2_norm_py,
        mrl_recall_panel,
    )

    rng = random.Random(42)
    dim, n = 64, 400

    def make_df(decay: float):
        rows = []
        for i in range(n):
            vec = [
                rng.gauss(0.0, 1.0) * math.exp(-decay * j)
                for j in range(dim)
            ]
            rows.append((i, vec, l2_norm_py(vec)))
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>, nrm double"
        )

    mrl_like = mrl_recall_panel(
        make_df(decay=0.25), n_queries=15, k=10, shortlist=50, mrl_dim=16
    ).first()
    assert mrl_like.n_queries == 15
    assert mrl_like.mean_recall_at_k > 0.9

    isotropic = mrl_recall_panel(
        make_df(decay=0.0), n_queries=15, k=10, shortlist=50, mrl_dim=16
    ).first()
    assert isotropic.mean_recall_at_k < mrl_like.mean_recall_at_k


def test_mrl_recall_bounds(spark):
    """Matryoshka recall is honestly measured: each query retrieves itself
    (self-similarity 1.0 survives both stages), so min recall >= 1/k; the
    16-dim prefix of these synthetic (non-MRL-trained) embeddings carries
    ~1/4 of the signal, so mean recall is capped well below 1 — the query
    documents the trade, it does not overclaim it."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    r = QUERIES["embed_mrl_recall"](spark, "/root/testdata/sf0.01").first()
    assert r.n_queries == 20 and r.k == 10 and r.shortlist == 50
    assert r.min_recall_at_k >= 0.1
    assert 0.0 < r.mean_recall_at_k <= 1.0


def _write_docs(tmp_path, name, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array(["src0"] * len(texts)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_duplicate_spans_semantics(spark, tmp_path):
    """Cross-doc shared 8-gram, in-doc repetition, and a clean doc."""
    from nyc_taxi_pyspark_spark.catalog.text import text_duplicate_spans

    shared = "a b c d e f g h"  # the 8-token passage planted in docs 0+1
    texts = [
        shared + " x1 x2 x3",            # span at pos 1, 8 tokens
        "z1 z2 " + shared + " z3",       # span at pos 3, 8 tokens
        "u1 u2 u3 u4 u5 u6 u7 u8 u9",    # unique: no duplicated grams
        "p1 p2 p3 p4 p5 p6 p7 p8 " * 2,  # in-doc repeat: gram 1 == gram 9
    ]
    texts[3] = texts[3].strip()
    sf = _write_docs(tmp_path, "spans", texts)
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"], r["n_tokens"])
        for r in text_duplicate_spans(spark, sf).collect()
    }
    assert got[0] == (1, 8, 11)
    assert got[1] == (1, 8, 11)
    assert got[2] == (0, 0, 9)
    # positions 1 and 9 share content; gap 8 <= K merges them into ONE
    # island covering the whole 16-token doc
    assert got[3] == (1, 16, 16)


def test_duplicate_spans_short_docs_excluded(spark, tmp_path):
    """Docs shorter than the 8-token anchor can't anchor a span but still
    appear in the report with zero duplication."""
    from nyc_taxi_pyspark_spark.catalog.text import text_duplicate_spans

    sf = _write_docs(tmp_path, "short", ["one two three", "one two three"])
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in text_duplicate_spans(spark, sf).collect()
    }
    assert got == {0: (0, 0), 1: (0, 0)}


def test_power_iteration_finds_planted_direction(spark, tmp_path):
    """Embeddings = strong rank-1 direction + small deterministic noise:
    the 3-round integer power iterate must align with the planted
    direction (|cosine| > 0.99)."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    from nyc_taxi_pyspark_spark.catalog.similarity import (
        embed_power_iteration_pc1,
    )

    dim = 64
    planted = [math.cos(0.1 * i) for i in range(dim)]
    vecs = []
    for r in range(200):
        coef = 1.0 + (r % 7) * 0.1
        noise = [(((r * 31 + i * 17) % 13) - 6) / 400.0 for i in range(dim)]
        vecs.append([coef * planted[i] / 8.0 + noise[i] for i in range(dim)])
    d = tmp_path / "pi"
    d.mkdir()
    tbl = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int64()),
    })
    pq.write_table(tbl, str(d / "embeddings.parquet"))

    rows = embed_power_iteration_pc1(spark, str(d)).collect()
    assert len(rows) == dim
    v = [0.0] * dim
    for r in rows:
        v[r["dim"]] = float(r["pc1_q"])
    dot = sum(a * b for a, b in zip(v, planted))
    cos = dot / (
        math.sqrt(sum(a * a for a in v))
        * math.sqrt(sum(b * b for b in planted))
    )
    assert abs(cos) > 0.99, cos
    # renormalization contract: max-abs component is exactly the scale
    assert max(abs(x) for x in v) == 1000.0


def test_novelty_curve_first_occurrence_semantics(spark, tmp_path):
    from nyc_taxi_pyspark_spark.catalog.text import text_novelty_curve

    p = "a1 a2 a3 a4 a5 a6 a7 a8"
    sf = _write_docs(tmp_path, "novel", [p, p, p + " b"])
    rows = {r["doc_id"]: r for r in text_novelty_curve(spark, str(sf)).collect()}
    # doc0 owns the gram; doc1 repeats it wholesale; doc2 adds one new
    # overlapping gram
    assert (rows[0]["n_distinct_grams"], rows[0]["n_novel"]) == (1, 1)
    assert (rows[1]["n_distinct_grams"], rows[1]["n_novel"]) == (1, 0)
    assert (rows[2]["n_distinct_grams"], rows[2]["n_novel"]) == (2, 1)
    assert [rows[i]["cum_novel"] for i in (0, 1, 2)] == [1, 1, 2]
    assert rows[1]["novelty_share"] == 0.0 and rows[0]["novelty_share"] == 1.0


def test_binary_hamming_matches_bruteforce(spark, tmp_path):
    """Popcount-XOR Hamming over packed sign bits == per-dimension sign
    disagreement count computed in Python."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from nyc_taxi_pyspark_spark.catalog.similarity import (
        embed_binary_hamming_topk,
    )

    dim = 64
    vecs = []
    for r in range(30):
        vecs.append([
            (1.0 if ((r * 7 + i * 13) % 5) > 1 else -1.0) * (0.01 + i / 100)
            for i in range(dim)
        ])
    d = tmp_path / "bh"
    d.mkdir()
    tbl = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int64()),
    })
    pq.write_table(tbl, str(d / "embeddings.parquet"))

    def ham(a, b):
        return sum((x >= 0) != (y >= 0) for x, y in zip(a, b))

    want = sorted(
        ((ham(vecs[i], vecs[0]), i) for i in range(1, len(vecs))),
    )[:10]
    got = [(r["hamming"], r["vec_id"])
           for r in embed_binary_hamming_topk(spark, str(d)).collect()]
    assert got == want


def test_hybrid_rrf_fusion_arithmetic(spark):
    """RRF output must be exactly 1/(60+lex) + 1/(60+sem) over the two
    arms' candidate ranks, with an absent arm contributing 0, ordered by
    fused score; the query vector's own doc is semantic rank 1."""
    from nyc_taxi_pyspark_spark.catalog.similarity import search_hybrid_rrf

    rows = search_hybrid_rrf(spark, "/root/testdata/sf0.001").collect()
    assert rows, "non-empty fusion"
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        arms = 0.0
        if r["lex_rank"] is not None:
            arms += 1.0 / float(60 + r["lex_rank"])
        if r["sem_rank"] is not None:
            arms += 1.0 / float(60 + r["sem_rank"])
        assert r["rrf"] == arms  # bit-exact: same IEEE ops
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
    sem1 = [r for r in rows if r["sem_rank"] == 1]
    assert sem1 and sem1[0]["doc_id"] == 0  # self-similarity tops the dense arm


def test_centroid_drift_identical_and_orthogonal_halves(spark, tmp_path):
    """Label 0: even/odd halves identical → drift ≈ 1. Label 1: halves on
    orthogonal axes → drift ≈ 0. Label 2: one empty half → honest NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_pyspark_spark.catalog.similarity import embed_centroid_drift
    from nyc_taxi_pyspark_spark.operators.similarity import DIM

    def vec(axis, scale=1.0):
        v = [0.0] * DIM
        v[axis] = scale
        return v

    rows = []  # (vec_id, label, embedding)
    rows += [(0, 0, vec(0)), (1, 0, vec(0)), (2, 0, vec(0)), (3, 0, vec(0))]
    rows += [(4, 1, vec(1)), (5, 1, vec(2)), (6, 1, vec(1)), (7, 1, vec(2))]
    rows += [(8, 2, vec(3))]  # even half only
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[2] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[1] for r in rows], pa.int32()),
        }
    )
    d = tmp_path / "drift"
    d.mkdir()
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    out = {r["label"]: r for r in embed_centroid_drift(spark, str(d)).collect()}
    assert abs(out[0]["drift_cos"] - 1.0) < 1e-12
    assert abs(out[1]["drift_cos"]) < 1e-12
    assert out[2]["drift_cos"] is None and out[2]["n_b"] == 0
    assert out[0]["n_a"] == 2 and out[0]["n_b"] == 2


def test_trigram_search_prefilter_is_exact_and_counts_occurrences(spark, tmp_path):
    """The trigram candidate set is a superset (a doc with all 8 trigrams
    scattered but no contiguous phrase must be pruned by the verify), and
    occurrence counting is exact for repeats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_pyspark_spark.catalog.text import text_trigram_search

    docs = [
        (0, "a spark join b"),                      # 1 hit
        (1, "spark join x spark join"),             # 2 hits
        (2, "spa par ark rk  k j jo joi oin nope"), # all trigrams, no phrase
        (3, "no relevant content here"),            # no trigrams
        (4, "sparkjoin"),                           # missing 'k j' trigram
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["s"] * len(docs)),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    d = tmp_path / "tri"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))
    out = {r["doc_id"]: r["n_occurrences"]
           for r in text_trigram_search(spark, str(d)).collect()}
    assert out == {0: 1, 1: 2}


def test_source_overlap_identical_and_disjoint_sources(spark, tmp_path):
    """Mirrored feeds score Jaccard 1.0; disjoint feeds 0.0; counts are
    distinct-gram cardinalities."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_pyspark_spark.catalog.text import corpus_source_overlap

    text1 = "one two three four five six seven eight nine ten"
    text2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [(0, text1, "a"), (1, text1, "b"), (2, text2, "c")]
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _, _ in docs], pa.int64()),
            "text": pa.array([t for _, t, _ in docs]),
            "lang": pa.array(["en"] * 3),
            "source": pa.array([s for _, _, s in docs]),
            "n_chars": pa.array([len(t) for _, t, _ in docs], pa.int64()),
        }
    )
    d = tmp_path / "ovl"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))
    out = {(r["source_a"], r["source_b"]): r
           for r in corpus_source_overlap(spark, str(d)).collect()}
    assert out[("a", "b")]["jaccard"] == 1.0
    assert out[("a", "c")]["jaccard"] == 0.0 and out[("a", "c")]["n_shared"] == 0
    assert out[("a", "b")]["n_a"] == 3  # 10 tokens -> 3 distinct 8-grams


def test_rake_run_splitting_and_degree_scores(spark, tmp_path):
    """Stopwords split candidate runs; degree scoring is exact: with docs
    'x y the x y' (twice 'x y') and 'x y z', deg(x)=deg(y)=2+2+3,
    deg(z)=3 → score('x y')=14, score('x y z')=17."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_pyspark_spark.catalog.text import text_keyphrases_rake

    docs = [(0, "x y the x y"), (1, "x y z")]
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs]),
            "lang": pa.array(["en"] * 2),
            "source": pa.array(["s"] * 2),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    d = tmp_path / "rake"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))
    out = {r["phrase"]: r for r in text_keyphrases_rake(spark, str(d)).collect()}
    assert set(out) == {"x y", "x y z"}
    assert out["x y"]["n_occurrences"] == 2 and out["x y"]["score"] == 14
    assert out["x y z"]["n_occurrences"] == 1 and out["x y z"]["score"] == 17


def test_power_iteration_ragged_arrays_match_oracle(spark, tmp_path):
    """r15 ADVICE: pin the output DOMAIN of the Gram restructure on
    ragged input. Both engine (fixed-width qv via try_element_at pad)
    and oracle (generate_series over DIM with COALESCE 0) must emit ALL
    DIM dims — zero-filled, never absent — even when every embedding
    array is shorter than DIM, mixed-length, empty, or NULL."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_pyspark_spark.catalog import ORACLES
    from nyc_taxi_pyspark_spark.catalog.similarity import (
        embed_power_iteration_pc1,
    )
    from nyc_taxi_pyspark_spark.operators.similarity import DIM

    vecs = [
        [0.9, -0.4, 0.2],            # shorter than DIM
        [0.1] * 5,                   # different short length
        [],                          # empty array
        None,                        # NULL array
        [0.5, 0.25],                 # ragged again
    ]
    d = tmp_path / "ragged"
    d.mkdir()
    tbl = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int64()),
    })
    pq.write_table(tbl, str(d / "embeddings.parquet"))

    got = {
        (r["dim"], r["pc1_q"])
        for r in embed_power_iteration_pc1(spark, str(d)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
    )
    want = {
        (int(r[0]), int(r[1]))
        for r in con.execute(
            ORACLES["embed_power_iteration_pc1"]
        ).fetchall()
    }
    assert got == want
    # the pinned domain: all DIM dims present, absent dims zero-filled
    assert len(got) == DIM
    assert {dim for dim, _ in got} == set(range(DIM))
