"""Dedup + similarity + textstats operator semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.functions.textstats import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from web_scraper_spark.operators.dedup import (
    decontaminate,
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash,
)
from web_scraper_spark.operators.similarity import (
    cosine,
    cosine_topk,
    embedding_neardup,
    ivf_topk,
    lsh_bucket_topk,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "THE  quick   Brown fox jumps over the lazy dog "),  # exact dup after norm
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
    (4, "ve bir bu da de sistemi tamamen farkli bir metin"),  # turkish-ish
    (5, "completely different content about spark engines and shuffles"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2 and groups[0].canonical_doc_id == 1


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [("A  b\tc",), ("a b c",)], "text string"
    ).select(fingerprint(F.col("text")).alias("fp"))
    fps = [r.fp for r in df.collect()]
    assert fps[0] == fps[1]


def test_minhash_lsh_finds_near_dups(docs):
    sig = minhash_signatures(shingles(docs), num_hashes=8)
    assert sig.count() == 5  # all docs have >=3 tokens
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sig, 8, 4).collect()}
    assert (1, 2) in pairs  # identical after lowering share all bands
    # doc 5 shares no shingles with 1 — must not pair
    assert (1, 5) not in pairs and (2, 5) not in pairs


def test_jaccard_exact_value(spark, docs):
    cand = spark.createDataFrame([(1, 3)], "doc_a long, doc_b long")
    out = jaccard_pairs(docs, cand, threshold=0.0).collect()
    # tokens: 8 distinct each (the x2), intersection 7 (sleepy vs lazy), union 9
    assert out[0].jaccard == round(7 / 9, 4)


def test_simhash_identical_docs_equal(docs):
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == 16 and set(sigs[1]) <= {"0", "1"}
    assert sigs[1] != sigs[5]


def test_cosine_topk_exact(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),  # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),  # anti-parallel
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = cosine_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [2, 3, 4]
    assert out[0].cos_sim == pytest.approx(0.9939, abs=1e-4)
    assert out[2].cos_sim == -1.0


def test_lsh_bucket_groups_identical_vectors(spark):
    vecs = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 1.0]) for i in range(12)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = lsh_bucket_topk(emb, q, dim=4, k=5, n_planes=3).collect()
    # identical vectors (3,6,9) land in the query's bucket and rank first
    got = [r.vec_id for r in sorted(out, key=lambda r: r.rank)[:3]]
    assert set(got) == {3, 6, 9}


def test_embedding_neardup_gated_no_cartesian(spark):
    """The near-dup operator must never plan an all-pairs join, must
    return only true pairs (precision 1.0 — cosine is exact on every
    candidate), and must recover most of the exact pairs (recall bound
    for the 4-band OR construction on real embedding data)."""
    import os

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(path)
    got = embedding_neardup(emb, dim=64, threshold=0.35).collect()

    # plan shape: bucket equi-join only — no cartesian / nested-loop
    plan = embedding_neardup(emb, dim=64, threshold=0.35)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # exact reference pairs via the brute-force join (fine at 500 rows)
    e = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    exact = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("c"))
        .filter(F.col("c") >= 0.35)
        .collect()
    }
    got_pairs = {(r.vec_a, r.vec_b) for r in got}
    assert got_pairs <= exact  # precision 1.0
    assert len(exact) > 0
    recall = len(got_pairs) / len(exact)
    assert recall >= 0.85, f"recall {recall:.2f} ({len(got_pairs)}/{len(exact)})"


def test_textstats_basics(spark):
    df = spark.createDataFrame(
        [("the cat and the dog, in a hat!",), ("ve bir bu da metin",), ("xyzzy 123",)],
        "text string",
    ).select(
        token_count(F.col("text")).alias("n"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
        lang_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
    )
    rows = df.collect()
    assert rows[0].n == 8 and rows[0].lang == "en"
    assert rows[1].lang == "tr"
    assert rows[2].lang == "und"
    # "the cat and the dog, in a hat!" → 8 word-runs + ',' + '!' = 10
    assert rows[0].bpe == 10
    assert 0.0 <= rows[0].q <= 1.0


def test_ngram_dup_fraction(spark):
    from web_scraper_spark.functions.textstats import ngram_dup_fraction

    rows = [
        (1, "one two three four five six"),  # all trigrams distinct -> 0
        (2, ("spam ham " * 20).strip()),  # near-total repetition
        (3, "a b"),  # fewer than 3 tokens -> 0
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", ngram_dup_fraction(F.col("text")).alias("f")
        ).collect()
    }
    assert got[1] == 0.0
    assert got[2] > 0.9
    assert got[3] == 0.0 and got[4] == 0.0


def test_ivf_topk_recall_and_plan(spark):
    """IVF-probe ANN: candidates come only from probed cells (no
    corpus×query cartesian), every returned neighbor's score is exact,
    and recall@5 vs the brute-force baseline clears the bound. The only
    nested-loop in the plan is the 1-row broadcast of the centroid
    array (the zero-shuffle assignment attach), never the corpus×query
    product."""
    import os

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(path)
    q = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    approx = ivf_topk(emb, q, n_cells=8, n_probe=2, k=5)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan

    exact_rows = cosine_topk(emb, q, k=5).collect()
    approx_rows = approx.collect()
    exact_sets: dict[int, set[int]] = {}
    for r in exact_rows:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets: dict[int, set[int]] = {}
    exact_scores = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in cosine_topk(emb, q, k=emb.count()).collect()
    }
    for r in approx_rows:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
        # scores within probed cells are exact, not approximated
        assert r.cos_sim == exact_scores[(r.query_id, r.vec_id)]
    hits = sum(len(exact_sets[qid] & approx_sets.get(qid, set())) for qid in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    recall = hits / total
    assert recall >= 0.5, f"recall@5 {recall:.2f} ({hits}/{total})"


def test_band_buckets_bit_parity_with_hyperplane(spark):
    """The Arrow multi-band bucket stage must agree with the JVM
    ``hyperplane_bucket`` fold on EVERY (vector, band) — the numpy
    kernel accumulates in the same ascending-dim order, so the claim
    is exact equality, not approximate."""
    import os

    from web_scraper_spark.operators.similarity import (
        _as_double,
        band_buckets,
        hyperplane_bucket,
    )

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    e = spark.read.parquet(path).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    n_bands, ppb = 4, 5
    new = band_buckets(e, "v", 64, n_bands, ppb)
    old = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        hyperplane_bucket(
                            F.col("v"), 64, ppb, plane_offset=b * ppb
                        ).cast("int").alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bucket")
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_topk_exclude_self_contract(spark):
    """Query ids from an INDEPENDENT namespace: with the default
    exclude_self=True a colliding id silently drops a legitimate
    neighbor; exclude_self=False must keep it. Pinned for all three
    top-k ops."""
    vecs = [(i, [1.0, 0.0, 0.0, float(i)]) for i in range(10)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    # query id 3 collides with corpus vec_id 3 but is NOT that vector
    q = spark.createDataFrame(
        [(3, [1.0, 0.0, 0.0, 3.0])], "query_id long, q_embedding array<float>"
    )

    got_excl = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
    got_all = {
        r.vec_id for r in cosine_topk(emb, q, k=10, exclude_self=False).collect()
    }
    assert 3 not in got_excl
    assert 3 in got_all
    assert got_all - got_excl == {3}

    got_lsh = {
        r.vec_id
        for r in lsh_bucket_topk(
            emb, q, dim=4, k=10, n_planes=2, exclude_self=False
        ).collect()
    }
    assert 3 in got_lsh

    got_ivf = {
        r.vec_id
        for r in ivf_topk(
            emb, q, n_cells=2, n_probe=2, k=10, exclude_self=False
        ).collect()
    }
    assert 3 in got_ivf


def test_kmeans_centroids_improve_ivf_recall(spark):
    """Data-adapted IVF placement: on clustered embeddings whose first
    ``n_cells`` rows are a correlated draw from ONE cluster (the
    realistic corpus-prefix failure mode for seed-vector centroids),
    ``kmeans_centroids`` spreads the cells to the true clusters and
    recall@5 rises from ~0.74 to 1.0. Fully deterministic: fixed rng
    seed, and the Lloyd's update rounds components so shuffle-order
    jitter cannot flip an assignment."""
    import numpy as np

    from web_scraper_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(7)
    dim, n_clusters, per = 16, 8, 60
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in [0] * 8 + [i % n_clusters for i in range(per * n_clusters)]:
        v = centers[c] + 0.15 * rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id >= 20 and vec_id < 30").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()}
    seed = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, n_cells=8, n_probe=2, k=5).collect()
    }
    cents = kmeans_centroids(emb, n_cells=8, n_iter=5)
    km = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(
            emb, q, n_cells=8, n_probe=2, k=5, centroids=cents
        ).collect()
    }
    seed_recall = len(seed & exact) / len(exact)
    km_recall = len(km & exact) / len(exact)
    assert km_recall > seed_recall
    assert km_recall >= 0.95, f"kmeans recall {km_recall:.2f}"
    # centroid table has the contract shape ivf_topk consumes
    assert cents.columns == ["cell_id", "cv"]
    assert cents.count() == 8


def test_decontaminate_counts_shared_shingles(spark):
    train = spark.createDataFrame(
        [
            # shares the full eval sentence (3 trigrams) → contaminated
            (1, "the quick brown fox jumps plus extra words here"),
            # shares exactly one trigram ("quick brown fox") → below
            # min_overlap=2, kept
            (2, "a quick brown fox appeared in other text entirely"),
            # no shared trigrams
            (3, "completely different content with zero overlap present"),
            # too short for trigrams
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(train, eval_docs, min_overlap=2).collect()
    }
    assert len(out) == 4
    assert out[1]["n_overlap"] == 3 and out[1]["contaminated"]
    assert out[2]["n_overlap"] == 1 and not out[2]["contaminated"]
    assert out[3]["n_overlap"] == 0 and not out[3]["contaminated"]
    assert out[4]["n_overlap"] == 0 and not out[4]["contaminated"]
