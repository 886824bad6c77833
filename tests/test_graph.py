"""Connected-components + metamorphic properties of the approximate
dedup/similarity operators (the ops without a SQL oracle — SURVEY.md §7
risk list prescribes subset/idempotence/closure checks)."""

import pytest
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators import dedup as D
from pyspark_unload_to_gcs_spark.operators.graph import connected_components, dedup_clusters

DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3, pair 10-11, triangle 20-21-22, isolated 99 (no edge)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_path_converges(spark):
    n = 64  # path graph: worst case for naive propagation
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    comp = connected_components(pairs)
    assert comp.select(F.count_distinct("component")).first()[0] == 1
    assert comp.count() == n + 1


def test_dedup_clusters_on_documents(spark):
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    docs = load_parquet(spark, DOCS)
    pairs = D.minhash_candidate_pairs(docs, "doc_id", "text")
    clustered = dedup_clusters(docs, pairs, id_column="doc_id")
    assert clustered.count() == docs.count()  # annotation, not filtering
    # cluster representative is a member of the corpus
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert all(r.cluster_id in ids for r in clustered.select("cluster_id").collect())
    # single-link survivors <= one-pass survivors (closure can only merge)
    single_link = clustered.filter(F.col("cluster_id") == F.col("doc_id")).count()
    one_pass = D.minhash_dedup(docs, "doc_id", "text").count()
    assert single_link <= one_pass


def test_minhash_dedup_metamorphic(spark):
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    docs = load_parquet(spark, DOCS)
    out = D.minhash_dedup(docs, "doc_id", "text")
    # subset of input
    assert out.count() <= docs.count()
    assert out.join(docs, "doc_id", "left_anti").count() == 0
    # idempotent: deduping survivors drops nothing
    assert D.minhash_dedup(out, "doc_id", "text").count() == out.count()


def test_simhash_dedup_metamorphic(spark):
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    docs = load_parquet(spark, DOCS)
    out = D.simhash_dedup(docs, "doc_id", "text")
    assert out.count() <= docs.count()
    assert out.join(docs, "doc_id", "left_anti").count() == 0
    assert D.simhash_dedup(out, "doc_id", "text").count() == out.count()


def test_lsh_topk_recall_on_planted_neighbors(spark):
    """LSH/IVF are for finding strong similars; on uniform random
    vectors every bucket is equally (un)likely to hold the weak top-k,
    so recall is tested on PLANTED near-duplicates of the query (the
    actual near-dup retrieval regime)."""
    import random

    from pyspark_unload_to_gcs_spark.operators import similarity as S

    rng = random.Random(7)
    dim = 32

    def rand_vec():
        return [rng.gauss(0, 1) for _ in range(dim)]

    q = rand_vec()
    rows = [(i, rand_vec()) for i in range(1, 201)]  # background noise
    for i in range(201, 211):  # 10 planted near-dups of q
        rows.append((i, [x + rng.gauss(0, 0.05) for x in q]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = [r.vec_id for r in S.cosine_topk(emb, q, k=10).collect()]
    assert set(exact) == set(range(201, 211))  # sanity: planted are the top-10
    approx = [r.vec_id for r in S.lsh_bucketed_topk(emb, q, k=10).collect()]
    ivf = [r.vec_id for r in S.ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3).collect()]
    assert len(set(exact) & set(approx)) >= 8  # planted dups share the query's bucket
    assert len(set(exact) & set(ivf)) >= 8
    # Lloyd-refined centroids must not hurt recall on planted dups
    ivf_km = [
        r.vec_id
        for r in S.ivf_topk(
            emb, q, k=10, n_centroids=8, n_probe=3, kmeans_iterations=2
        ).collect()
    ]
    assert len(set(exact) & set(ivf_km)) >= 8


def test_int8_quantization_roundtrip_and_recall(spark, sf_dir):
    import os

    from pyspark_unload_to_gcs_spark.operators.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    emb = load_parquet(spark, os.path.join(sf_dir, "embeddings.parquet"))
    q = quantize_embeddings(emb)
    # qvec values fit int8; scale nonneg
    row = q.first()
    assert all(-127 <= v <= 127 for v in row.qvec)
    assert row.scale >= 0.0

    # round-trip error bounded by scale/2 per coordinate
    orig = {r.vec_id: r.embedding for r in emb.select("vec_id", "embedding").collect()}
    scales = {r.vec_id: r.scale for r in q.collect()}
    back = {r.vec_id: r.embedding for r in dequantize_embeddings(q).collect()}
    for vid, vec in list(orig.items())[:50]:
        tol = scales[vid] / 2 + 1e-6
        assert all(abs(a - b) <= tol for a, b in zip(vec, back[vid]))

    # retrieval survives quantization: top-10 by dequantized vectors shares
    # >= 8 of 10 with the exact top-10 for a fixture query vector
    target = emb.first().embedding
    exact = [r.vec_id for r in cosine_topk(emb, [float(x) for x in target], k=10).collect()]
    approx = [r.vec_id for r in
              cosine_topk(dequantize_embeddings(q), [float(x) for x in target], k=10).collect()]
    assert len(set(exact) & set(approx)) >= 8


def test_quantization_zero_vector(spark):
    from pyspark_unload_to_gcs_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id bigint, embedding array<float>")
    q = quantize_embeddings(df)
    r = q.first()
    assert r.scale == 0.0 and list(r.qvec) == [0, 0, 0]
    assert list(dequantize_embeddings(q).first().embedding) == [0.0, 0.0, 0.0]


def test_fuzzy_text_join_cross_table_matches(spark):
    from pyspark_unload_to_gcs_spark.operators.dedup import fuzzy_text_join

    base = "the quick brown fox jumps over the lazy dog again and again today"
    left = spark.createDataFrame(
        [(1, base), (2, "entirely different content with no overlap whatsoever here")],
        "doc_id bigint, text string",
    )
    right = spark.createDataFrame(
        [(10, base + " extra"), (11, "unrelated text on the right side of the join")],
        "doc_id bigint, text string",
    )
    out = fuzzy_text_join(left, right, jaccard_threshold=0.5).collect()
    assert [(r.left_id, r.right_id) for r in out] == [(1, 10)]
    assert out[0].jaccard >= 0.5
    # same-side near-dups must NOT appear (cross-side only)
    left2 = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id bigint, text string"
    )
    out2 = fuzzy_text_join(left2, right, jaccard_threshold=0.5).collect()
    assert all(r.left_id in (1, 2) and r.right_id == 10 for r in out2)
    assert len(out2) == 2


def test_incremental_match_against_persisted_index(spark, tmp_path):
    """Incremental near-dedup: the corpus signature index is built once,
    persisted to parquet, and a new batch matches against it without
    re-shingling corpus text — planted near-dups are found, novel docs
    are not."""
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    docs = load_parquet(spark, DOCS)
    idx_path = f"file:{tmp_path}/sig_index"
    D.signature_frame(docs, "doc_id", "text").write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)

    # new batch: 5 near-copies of corpus docs (append one token) + 3 novels
    base = {r.doc_id: r.text for r in docs.limit(5).collect()}
    rows = [(100000 + i, t + " extra") for i, t in enumerate(base.values())]
    rows += [
        (200000 + i, f"utterly novel UNSEEN-{i} zz{i}qq completely different payload xj{i}")
        for i in range(3)
    ]
    new_batch = spark.createDataFrame(rows, "doc_id long, text string")

    matches = D.match_against_index(new_batch, index, "doc_id", "text", jaccard_threshold=0.5)
    got = matches.collect()
    matched_new = {r.new_id for r in got}
    # every planted copy matches its source doc in the index
    for i, src_id in enumerate(base):
        assert 100000 + i in matched_new
        assert any(r.new_id == 100000 + i and r.index_id == src_id for r in got)
    # novel docs match nothing
    assert not any(r.new_id >= 200000 for r in got)
    # matches report real Jaccard in threshold range
    assert all(0.5 <= r.jaccard <= 1.0 for r in got)


def test_match_against_index_rejects_mismatched_build_params(spark):
    """An index built with one num_hashes must not be silently re-banded
    under another — the band keys would be garbage and duplicates would
    be missed without any error (ADVICE r03)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    index = D.signature_frame(docs, "doc_id", "text", num_hashes=32, bands=8)
    new = spark.createDataFrame([(10, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_hashes=32"):
        D.match_against_index(new, index, "doc_id", "text", num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="bands=8"):
        D.match_against_index(new, index, "doc_id", "text", num_hashes=32, bands=4)
    # band-free index layout (minhash_signatures) carries metadata too
    sig = D.minhash_signatures(docs, "doc_id", "text", num_hashes=32)
    with pytest.raises(ValueError, match="num_hashes=32"):
        D.match_against_index(new, sig, "doc_id", "text", num_hashes=64)


def test_band_counts_that_leave_a_band_empty_are_refused(spark):
    """With bands > num_hashes every band slices zero hashes, so every
    document gets the same band key and the candidate join turns
    all-pairs (40 unrelated docs gave C(40, 2) = 780 candidates);
    min_matching_bands > bands keeps no pair at all. Both are refused
    at plan time, and so is a simhash chunk of zero bits."""
    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(40)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="bands=64"):
        D.minhash_candidate_pairs(docs, "doc_id", "text", num_hashes=32, bands=64)
    with pytest.raises(ValueError, match="bands=0"):
        D.minhash_candidate_pairs(docs, "doc_id", "text", bands=0)
    with pytest.raises(ValueError, match="min_matching_bands=9"):
        D.minhash_candidate_pairs(docs, "doc_id", "text", bands=8, min_matching_bands=9)
    with pytest.raises(ValueError, match="min_matching_bands=0"):
        D.minhash_candidate_pairs(docs, "doc_id", "text", min_matching_bands=0)
    index = D.minhash_signatures(docs, "doc_id", "text")
    with pytest.raises(ValueError, match="bands=64"):
        D.match_against_index(docs, index, "doc_id", "text", bands=64)
    with pytest.raises(ValueError, match="min_matching_bands=9"):
        D.match_against_index(docs, index, "doc_id", "text", min_matching_bands=9)
    with pytest.raises(ValueError, match="bands=64"):
        D.fuzzy_text_join(docs, docs, bands=64)
    with pytest.raises(ValueError, match="bands=64"):
        D.signature_frame(docs, "doc_id", "text", bands=64)
    for bands in (0, 65):
        with pytest.raises(ValueError, match=f"bands={bands}"):
            D.simhash_dedup(docs, "doc_id", "text", bands=bands)


def test_match_against_index_releases_batch_cache(spark):
    """Per-micro-batch usage must not leak one persisted frame per epoch:
    after the call returns, at most one new RDD is registered in the
    JVM's persistent-RDD map — the barrier over the batch signatures,
    whose blocks the returned frame reads and frees with it."""
    docs = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string",
    )
    index = D.signature_frame(docs, "doc_id", "text")
    index = index.persist()
    index.count()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    new = spark.createDataFrame([(100, "token1 alpha beta gamma delta")], "doc_id long, text string")
    out = D.match_against_index(new, index, "doc_id", "text", jaccard_threshold=0.5)
    assert out.count() >= 1
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    # the only new persistent entry allowed is the batch signatures'
    # barrier, whose blocks the returned frame reads — no cached frame
    leaked = after - before
    assert len(leaked) <= 1, f"leaked persisted RDDs: {leaked}"
    index.unpersist()


def test_fuzzy_text_join_rejects_non_integral_ids(spark):
    from pyspark_unload_to_gcs_spark.operators.dedup import fuzzy_text_join

    left = spark.createDataFrame([("a", "some text here")], "doc_id string, text string")
    right = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="integral"):
        fuzzy_text_join(left, right)
    with pytest.raises(ValueError, match="integral"):
        fuzzy_text_join(right, left)


def test_fuzzy_text_join_id_overflow_fails_loudly(spark):
    """Ids at/above 2^62 overflow the even/odd packing; ANSI mode must
    turn that into an error, never a silent wraparound (ADVICE r03)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import fuzzy_text_join

    big = 1 << 62
    left = spark.createDataFrame([(big, "alpha beta gamma")], "doc_id long, text string")
    right = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        fuzzy_text_join(left, right, jaccard_threshold=0.5).collect()


# --- pagerank (integer-exact, bounded iterations) ---------------------------


def test_pagerank_matches_hand_computation(spark):
    """a->b, a->c, b->c at scale=1000, damping 85%, 2 iterations.
    teleport = 150; r1 = {a:150, b:575, c:1425};
    r2: a=150; b=150+(85*75)//100=213; c=150+(85*(75+575))//100=702."""
    from pyspark_unload_to_gcs_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    out = {r.node: r.rank for r in pagerank(edges, iterations=2, scale=1000).collect()}
    assert out == {"a": 150, "b": 213, "c": 702}


def test_pagerank_zero_iterations_is_uniform(spark):
    from pyspark_unload_to_gcs_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = {r.node: r.rank for r in pagerank(edges, iterations=0, scale=7).collect()}
    assert out == {"a": 7, "b": 7}


def test_pagerank_sink_receives_no_outflow_mass_back(spark):
    """Pure sink keeps only teleport + damped inflow; source decays to
    teleport. One iteration: b = 150 + 85*1000//100 = 1000, a = 150."""
    from pyspark_unload_to_gcs_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = {r.node: r.rank for r in pagerank(edges, iterations=1, scale=1000).collect()}
    assert out == {"a": 150, "b": 1000}


def test_dedup_keep_best_prefers_quality_then_smaller_id(spark):
    from pyspark_unload_to_gcs_spark.operators.graph import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (3, 0.99), (4, 0.2), (5, 0.7), (6, 0.7)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = sorted(
        r.doc_id
        for r in dedup_keep_best(
            docs, pairs, id_column="doc_id", quality_column="q"
        ).collect()
    )
    # cluster {1,2,3}: 3 wins on quality; 4 unpaired survives;
    # cluster {5,6}: quality tie -> smaller id 5
    assert out == [3, 4, 5]


def test_dedup_keep_best_null_quality_always_loses(spark):
    """A NULL quality (failed scoring) must never beat a scored row —
    min_by's null-first struct ordering would otherwise crown the
    unscored doc (caught by the r05 review of the min_by rewrite);
    all-NULL clusters fall back to the smaller id."""
    from pyspark_unload_to_gcs_spark.operators.graph import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, None), (4, None)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    out = sorted(
        r.doc_id
        for r in dedup_keep_best(
            docs, pairs, id_column="doc_id", quality_column="q"
        ).collect()
    )
    # cluster {1,2}: scored 1 beats NULL 2; cluster {3,4}: both NULL -> min id
    assert out == [1, 3]


def test_dedup_keep_best_matches_min_id_when_quality_is_neg_id(spark):
    """With quality = -id the best row IS the min id, so keep-best must
    equal the survivors of plain single-link dedup_clusters."""
    from pyspark_unload_to_gcs_spark.operators.graph import (
        dedup_clusters,
        dedup_keep_best,
    )

    docs = spark.createDataFrame(
        [(i, float(-i)) for i in range(1, 30)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 29, 3)], "id_a long, id_b long"
    )
    best = {
        r.doc_id
        for r in dedup_keep_best(
            docs, pairs, id_column="doc_id", quality_column="q"
        ).collect()
    }
    clustered = dedup_clusters(docs, pairs, id_column="doc_id")
    minid = {
        r.doc_id
        for r in clustered.filter(F.col("cluster_id") == F.col("doc_id")).collect()
    }
    assert best == minid
