"""Dedup / similarity / text-stats / multimodal operators over the driver's
documents + embeddings testdata (sf0.001)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from olympian_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from olympian_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    gen_fake_media,
)
from olympian_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_ann_topk,
)
from olympian_spark.operators.textstats import (
    with_fingerprint,
    with_quality_score,
    with_token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # inject known exact dups + a near-dup (one word changed)
    first = base.orderBy("doc_id").limit(1).collect()[0]
    extra = spark.createDataFrame(
        [
            (100001, first.text, first.lang, first.source, len(first.text)),
            (100002, first.text + " tail", first.lang, first.source, len(first.text) + 5),
        ],
        base.schema,
    )
    return base.unionByName(extra)


@pytest.fixture(scope="module")
def emb(spark):
    base = spark.read.parquet(f"{SF}/embeddings.parquet")
    # plant a near-duplicate of vector 0
    v0 = base.filter("vec_id = 0").collect()[0]
    dup = [float(x) * 1.0001 for x in v0.embedding]
    extra = spark.createDataFrame([(900001, dup, v0.label)], base.schema)
    return base.unionByName(extra)


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.7).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (0, 100001) in found  # exact dup is jaccard 1.0
    assert (0, 100002) in found or (100001, 100002) in found  # near dup
    for r in pairs:
        jac = r.n_common / (r.n_a + r.n_b - r.n_common)
        assert jac >= 0.7


def test_minhash_lsh_superset_check(spark, docs):
    """LSH+verify must find the same pairs as brute-force jaccard at the
    same threshold for the planted duplicates, with exact counts."""
    got = {(r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
           for r in minhash_lsh_pairs(docs, threshold=0.7).collect()}
    brute = {(r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.7).collect()}
    assert (0, 100001) in got
    for pair, counts in got.items():
        assert brute[pair] == counts  # verification counts are exact
    # recall on this corpus: every brute pair recovered (identical shingle
    # sets collide in every band)
    assert set(brute) == set(got)


def test_simhash_finds_exact_dup(spark, docs):
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (0, 100001) in found
    for r in pairs:
        assert r.hamming <= 3


def test_cosine_topk_and_planted_neighbour(spark, emb):
    q = emb.filter("vec_id = 0")
    out = cosine_topk(emb, q, k=5).collect()
    assert len(out) == 5
    assert out[0].query_id == 0
    by_rank = sorted(out, key=lambda r: r.rank)
    assert by_rank[0].vec_id == 900001  # planted near-dup is nearest
    assert by_rank[0].cos_sim > 0.999999 or by_rank[0].cos_sim == 1.0


def test_lsh_ann_recall_vs_bruteforce(spark, emb):
    qs = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, qs, k=5).collect()
    approx = lsh_ann_topk(emb, qs, dim=64, k=5, n_planes=6, multiprobe_bits=2).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # random uniform vectors are LSH's worst case (no cluster structure);
    # with 6 planes + 2-bit multiprobe the probed buckets cover ~34% of the
    # corpus — require recall well above that sampling baseline
    assert sum(recalls) / len(recalls) >= 0.5, f"mean recall too low: {recalls}"


def test_embedding_near_dup(spark, emb):
    pairs = embedding_near_dup_pairs(emb, dim=64, threshold=0.999).collect()
    assert any({r.vec_a, r.vec_b} == {0, 900001} for r in pairs)


def test_textstats_columns(spark, docs):
    out = with_fingerprint(with_quality_score(with_token_counts(docs)))
    rows = out.limit(50).collect()
    for r in rows:
        n_ws = len(r.text.split()) if r.text and r.text.strip() else 0
        assert r.ws_tokens == n_ws
        assert 0 <= r.quality_x1e6 <= 1_000_000
        assert len(r.fingerprint) == 32
    # deterministic fingerprints: identical text -> identical fingerprint
    fp = {r.doc_id: r.fingerprint for r in out.filter(
        F.col("doc_id").isin([0, 100001])).collect()}
    assert fp[0] == fp[100001]


def test_multimodal_pipeline(spark):
    media = gen_fake_media(spark, n=60)
    feats = extract_features(media).collect()
    assert len(feats) == 60
    for r in feats:
        assert len(r.feature) == FEATURE_DIM
        assert all(0.0 <= x < 1.0 for x in r.feature)
    # deterministic: same payload -> same features across runs
    feats2 = {r.media_id: list(r.feature) for r in extract_features(media).collect()}
    for r in feats:
        assert feats2[r.media_id] == list(r.feature)
    import pytest as _pytest

    from olympian_spark.operators.multimodal import decode_image
    with _pytest.raises(NotImplementedError):
        decode_image(b"", {})


def test_ngram_hot_shingle_cap(spark):
    """A stop-shingle shared by every document must not explode the
    shingle self-join: with the doc-frequency cap on (the default), pairs
    related ONLY through the hot shingle disappear, while genuinely
    duplicated docs are still found through their other shingles."""
    hot = "call us now today"
    rows = [(i, f"{hot} unique{i} filler{i} token{i} extra{i}") for i in range(40)]
    # planted near-dup pair sharing all non-hot shingles
    rows.append((1000, f"{hot} alpha beta gamma delta epsilon"))
    rows.append((1001, f"{hot} alpha beta gamma delta epsilon"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_doc_freq=10).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1000, 1001) in found
    # the 40 filler docs share nothing but capped-out hot shingles
    assert all(p == (1000, 1001) for p in found)


def test_embedding_near_dup_hot_bucket_bounded(spark):
    """All-identical corpus = the LSH hot-bucket worst case (every vector in
    ONE bucket; extra planes cannot split identical vectors). With
    max_bucket_size the in-bucket self-join must stay bounded (cap^2 per
    salt group, linear overall) while every member still gets marked as a
    duplicate of something in its salt group."""
    n = 300
    v = [float(i % 7) + 1.0 for i in range(16)]
    rows = [(i, v, "hot") for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")

    pairs = embedding_near_dup_pairs(
        df, dim=16, threshold=0.999, n_planes=6, max_bucket_size=50
    ).toPandas()
    # bounded: <= sum over salt groups of m_g^2/2 — far below n^2/2 = 44850
    uncapped_pairs = n * (n - 1) / 2
    assert 0 < len(pairs) < uncapped_pairs / 2
    # every vector is still flagged as part of a duplicate group
    touched = set(pairs.vec_a) | set(pairs.vec_b)
    assert touched == set(range(n))
    # under-cap buckets are exactly the uncapped join: planted dup still found
    base = spark.read.parquet(f"{SF}/embeddings.parquet")
    v0 = base.filter("vec_id = 0").collect()[0]
    dup = [float(x) * 1.0001 for x in v0.embedding]
    emb = base.unionByName(
        spark.createDataFrame([(900001, dup, v0.label)], base.schema)
    )
    pairs2 = embedding_near_dup_pairs(
        emb, dim=64, threshold=0.999, max_bucket_size=10_000
    ).collect()
    assert any({r.vec_a, r.vec_b} == {0, 900001} for r in pairs2)


def test_lsh_ann_hot_bucket_candidates_capped(spark):
    """lsh_ann_topk with max_bucket_size must bound per-bucket corpus
    membership: an all-identical corpus (one hot bucket) still returns
    top-k for each query, and the rerank set is the ≈cap-sized hash-
    threshold subset (binomial around the cap, never the full bucket)."""
    n = 400
    v = [1.0] * 16
    rows = [(i, v, "hot") for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    qs = df.filter("vec_id < 3")
    out = lsh_ann_topk(
        df, qs, dim=16, k=5, n_planes=6, multiprobe_bits=0, max_bucket_size=20,
        n_tables=1,
    ).toPandas()
    # each query gets k results drawn from the ≈20 capped members
    # (binomial(400, 0.05): mean 20, std ~4.4 — 40 is a >4σ bound)
    assert (out.groupby("query_id").size() == 5).all()
    assert out.vec_id.nunique() <= 40


def test_cap_bucket_membership_hash_threshold_properties(spark):
    """Judge-spec properties of the shuffle-free bucket cap: the kept
    subset is (a) deterministic across invocations, (b) ≈cap-sized within
    binomial tolerance on a hot bucket while under-cap buckets pass
    untouched, and (c) the physical plan contains NO window exchange —
    a degenerate 10^8-row bucket must never serialize into one task's
    external sort."""
    from olympian_spark.operators.similarity import _cap_bucket_membership

    n_hot, n_cold, cap = 5000, 50, 200
    rows = [(i, 1) for i in range(n_hot)] + [(n_hot + i, 2) for i in range(n_cold)]
    c = spark.createDataFrame(rows, "vec_id long, lsh_bucket long")
    capped = _cap_bucket_membership(c, cap)

    # (c) no window / sort-based plan: the cap is a broadcast-join filter
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan

    a = sorted(r.vec_id for r in capped.collect())
    b = sorted(r.vec_id for r in capped.collect())
    assert a == b  # (a) deterministic

    kept_hot = sum(1 for i in a if i < n_hot)
    kept_cold = sum(1 for i in a if i >= n_hot)
    assert kept_cold == n_cold  # under-cap bucket untouched
    # (b) binomial(5000, 0.04): mean 200, std ~13.9 — ±5σ bound
    assert abs(kept_hot - cap) < 70, kept_hot


def test_lsh_keys_match_sql_dot_signs(spark):
    """The numpy LSH key kernel must give every sign bit that the SQL
    ``aggregate(zip_with(...))`` dot gives: the same left fold of double
    products, a NULL dot (NULL vector, NULL element, wrong length) -> bit 0,
    and a NaN dot (NaN element, inf - inf) -> bit 1."""
    from olympian_spark.operators.similarity import (
        _dot,
        _hyperplanes,
        _table_seed,
        _with_lsh_keys,
    )

    rng = np.random.default_rng(0)
    dim, n_planes, n_tables = 8, 5, 3
    rows = [(i, rng.normal(size=dim).astype(np.float32).tolist()) for i in range(400)]
    ones = [1.0] * (dim - 1)
    rows += [
        (1000, None), (1001, [1.0] * 3), (1002, [1.0] * (dim + 1)), (1003, [None] + ones),
        (1004, [float("nan")] + ones), (1005, [float("inf")] + ones), (1006, [0.0] * dim),
        (1007, [float("inf"), float("-inf")] + [0.0] * (dim - 2)), (1008, [-0.0] * dim),
        (1009, []),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = F.col("embedding").cast("array<double>")
    keys = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for i, p in enumerate(_hyperplanes(dim, n_planes, _table_seed(13, t))):
            h = F.array(*[F.lit(float(x)) for x in p])
            bit = F.when(_dot(v, h) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
        keys.append(bucket + F.lit(t << n_planes).cast("long"))
    want = {r.vec_id: list(r.k) for r in df.select("vec_id", F.array(*keys).alias("k")).collect()}
    got = {
        r.vec_id: list(r.lsh_keys)
        for r in _with_lsh_keys(df, "embedding", dim, n_planes, n_tables).collect()
    }
    assert got == want
    assert got[1000] == [0, 32, 64] and got[1004] == [31, 63, 95]


def test_multi_table_lsh_recall_at_scale(spark):
    """Judge-spec recall property: dim-64 corpus of 10^5 vectors with
    planted near neighbours (cos ~0.94 — the high-similarity regime
    multi-table LSH exists for), 20 queries. 4 independent hyperplane
    tables with 1-bit multiprobe must reach recall@10 >= 0.9 against the
    exact numpy baseline while candidate sets stay bounded (single-table
    2^12 buckets is provably too coarse at 10^9+ scale; L tables miss a
    pair only if it splits in EVERY table)."""
    import pandas as pd

    from olympian_spark.operators.similarity import _ann_candidates

    rng = np.random.default_rng(42)
    dim, n, n_q, n_plant = 64, 100_000, 20, 10
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    q_ids = np.arange(n_q) * 5000  # spread through the corpus
    for qi in q_ids:
        base = vecs[qi] / np.linalg.norm(vecs[qi])
        for j in range(1, n_plant + 1):
            noise = rng.normal(size=dim).astype(np.float32)
            noise -= noise @ base * base  # orthogonalize
            noise /= np.linalg.norm(noise)
            vecs[qi + j] = (base + 0.35 * noise) * float(rng.uniform(0.5, 2.0))

    # exact numpy top-10 per query (cosine, engine's tiebreak irrelevant:
    # planted neighbours dominate by a wide margin)
    norms = np.linalg.norm(vecs, axis=1)
    unit = vecs / norms[:, None]
    expected = {}
    for qi in q_ids:
        cos = unit @ unit[qi]
        cos[qi] = -2.0
        expected[int(qi)] = set(np.argsort(-cos)[:n_plant].tolist())
        assert expected[int(qi)] == {int(qi) + j for j in range(1, n_plant + 1)}

    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf)
    qs = emb.filter(F.col("vec_id").isin([int(x) for x in q_ids]))

    kw = dict(
        dim=dim, n_planes=12, multiprobe_bits=1, n_tables=4,
        max_bucket_size=2000,
    )
    approx = lsh_ann_topk(emb, qs, k=n_plant, **kw).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(got.get(int(qi), set()) & expected[int(qi)]) / n_plant for qi in q_ids
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"mean recall@10 {mean_recall:.3f} < 0.9: {recalls}"

    # bounded candidates: the union of 4 tables' probes must stay a small
    # fraction of the corpus (the whole point vs brute force)
    n_cand = (
        _ann_candidates(
            emb, qs, dim, n_planes=12, multiprobe_bits=1, n_tables=4,
            id_col="vec_id", vec_col="embedding", max_bucket_size=2000,
        )
        .groupBy("query_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert n_cand < n // 5, f"candidate set not bounded: {n_cand} of {n}"


def test_ivf_ann_recall_and_shape(spark):
    """IVF coarse quantization: planted near neighbours recovered with
    recall@10 >= 0.9 at nprobe/n_lists << 1, exact rerank scores match
    cosine_topk's scoring, and every corpus vector lands in exactly one
    inverted list."""
    import pandas as pd

    from olympian_spark.operators.similarity import (
        ivf_ann_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    dim, n, n_q, n_plant = 32, 20_000, 10, 10
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    q_ids = np.arange(n_q) * 1500
    for qi in q_ids:
        base = vecs[qi] / np.linalg.norm(vecs[qi])
        for j in range(1, n_plant + 1):
            noise = rng.normal(size=dim).astype(np.float32)
            noise -= noise @ base * base
            noise /= np.linalg.norm(noise)
            vecs[qi + j] = (base + 0.3 * noise) * float(rng.uniform(0.5, 2.0))

    unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
    expected = {}
    for qi in q_ids:
        cos = unit @ unit[qi]
        cos[qi] = -2.0
        expected[int(qi)] = set(np.argsort(-cos)[:n_plant].tolist())

    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf)
    qs = emb.filter(F.col("vec_id").isin([int(x) for x in q_ids]))

    C = train_ivf_centroids(emb, dim, n_lists=32, sample_rows=20_000, seed=5)
    assert C.shape == (32, dim)
    out = ivf_ann_topk(
        emb, qs, dim=dim, k=n_plant, n_lists=32, nprobe=8, centroids=C
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(got.get(int(qi), set()) & expected[int(qi)]) / n_plant for qi in q_ids
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"IVF mean recall@10 {mean_recall:.3f}: {recalls}"

    # partition property (numpy mirror of the assignment UDF math): each
    # vector lands in exactly one list and no list swallows the corpus —
    # the balance that makes candidate cost ~ nprobe/n_lists of N
    a = (unit.astype(np.float64) @ C.T).argmax(1)
    counts = np.bincount(a, minlength=32)
    assert counts.sum() == n
    assert counts.max() < n // 4, f"degenerate list sizes: {sorted(counts)[-3:]}"


def test_ivf_hot_list_candidates_capped(spark):
    """ivf_ann_topk with max_list_size must bound per-list corpus
    membership (mirror of the LSH hot-bucket cap): an all-identical
    corpus collapses into ONE inverted list, and the rerank set must be
    the ≈cap-sized hash-threshold subset, never the full list."""
    from olympian_spark.operators.similarity import ivf_ann_topk

    n, cap = 400, 20
    rng = np.random.default_rng(3)
    v = [1.0] * 16
    rows = [(i, v, "hot") for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    qs = df.filter("vec_id < 3")
    # centroids supplied (an all-identical corpus can't train 4 clusters)
    C = rng.normal(size=(4, 16))
    C = C / np.linalg.norm(C, axis=1)[:, None]
    out = ivf_ann_topk(
        df, qs, dim=16, k=5, n_lists=4, nprobe=4, centroids=C, max_list_size=cap
    ).toPandas()
    # each query still gets k results drawn from ≈cap members
    # (binomial(400, 0.05): mean 20, std ~4.4 — 40 is a >4σ bound)
    assert (out.groupby("query_id").size() == 5).all()
    assert out.vec_id.nunique() <= 40


def test_extract_features_survives_corrupt_payload(spark):
    """A corrupt payload must not kill the job (at 100 TB one bad row is a
    certainty): extract_features degrades to the deterministic keyed-hash
    fallback; decode_verify is the operator that surfaces the corruption."""
    from olympian_spark.functions.jpeg import encode_jpeg

    good = encode_jpeg(np.full((8, 8, 3), 90, np.uint8))
    rows = [
        (0, "image", bytearray(good), (8, 8, None, "jpeg")),
        # truncated mid-entropy-stream and garbage-after-SOI payloads
        (1, "image", bytearray(good[: len(good) // 2]), (8, 8, None, "jpeg")),
        (2, "image", bytearray(b"\xff\xd8\x00garbage"), (8, 8, None, "jpeg")),
        (3, "image", bytearray(b"P6\n bad ppm"), (8, 8, None, "ppm")),
    ]
    from olympian_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(df).collect()
    assert len(out) == 4
    for r in out:
        assert len(r.feature) == 16 and all(0.0 <= x < 1.0 for x in r.feature)


def test_bm25_score_matches_closed_form(spark):
    """bm25_score == hand-computed Okapi BM25 (python math) on a corpus
    with empty docs, absent terms, and repeated terms; plan stays
    broadcast-join shaped (no corpus shuffle on the scoring side)."""
    import math

    from olympian_spark.operators.textstats import bm25_score

    rows = [
        (0, "spark join spark vector"),
        (1, "the quick brown fox"),
        (2, ""),
        (3, None),
        (4, "join join join spark"),
        (5, "vector"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bm25_score(df, ["spark", "join", "zzz"]).collect()}

    docs = {i: (t or "").lower().split() for i, t in rows}
    dls = {i: len(v) for i, v in docs.items()}
    n, avgdl = len(rows), sum(dls.values()) / len(rows)
    k1, b = 1.2, 0.75
    for did in docs:
        score = 0.0
        for term in ["spark", "join", "zzz"]:
            tf = docs[did].count(term)
            dfreq = sum(1 for v in docs.values() if term in v)
            idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
            score += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dls[did] / avgdl))
        r = out[did]
        assert r.dl == dls[did]
        assert r.tf_spark == docs[did].count("spark")
        assert r.tf_zzz == 0
        assert abs(r.bm25_x1e6 - math.floor(score * 1e6)) <= 1
    # docs with no query terms score exactly zero
    assert out[1].bm25_x1e6 == 0 and out[2].bm25_x1e6 == 0 and out[3].bm25_x1e6 == 0
    # plan shape: corpus side joins the 1-row stats via broadcast
    plan = bm25_score(df, ["spark"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semantic_dedup_clusters_and_salting(spark):
    """Four well-separated axis clusters of near-identical vectors: in each
    cluster every member dups to the min id; keepers = 4 cluster minima.
    Re-running with a tiny max_cluster_size exercises the salted path and
    must still MARK every non-representative member of an all-identical
    cluster (the dedup use case)."""
    import numpy as np

    from olympian_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(5)
    rows = []
    for c in range(4):
        base = np.zeros(16)
        base[c * 4] = 1.0
        for j in range(25):
            v = base + rng.normal(0, 1e-4, 16)  # cos ~ 1 within cluster
            rows.append((c * 100 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    # pinned codebook (the four axis directions): trained k-means may split
    # a semantic cluster across cells — correct SemDeDup behaviour, but the
    # test wants the deterministic assignment/join/min path
    C = np.zeros((4, 16))
    for c in range(4):
        C[c, c * 4] = 1.0
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, dim=16, threshold=0.99, centroids=C).collect()
    }
    assert len(out) == 100
    keepers = [i for i, r in out.items() if not r["is_dup"]]
    assert sorted(keepers) == [0, 100, 200, 300]
    for i, r in out.items():
        if r["is_dup"]:
            assert r["dup_of"] == (i // 100) * 100
    # salted path: identical vectors, cap forces sub-clusters; every
    # non-min member must still be marked (min of its salt group)
    ident = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(40)], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    out2 = semantic_dedup(
        ident, dim=8, threshold=0.99, n_lists=2, sample_rows=40, max_cluster_size=10
    ).collect()
    n_dup = sum(1 for r in out2 if r["is_dup"])
    assert n_dup >= 36  # at most one keeper per salt sub-group (<= 4 groups)
    for r in out2:
        if r["is_dup"]:
            assert r["dup_of"] < r["vec_id"]


def test_pq_ann_recall(spark):
    """PQ/ADC top-k: recall@10 vs exact cosine on clustered vectors, code
    size m bytes, and the cos_sim column is the documented 1 - d2/2
    approximation (monotone with true cosine on unit vectors)."""
    import numpy as np

    from olympian_spark.operators.similarity import (
        cosine_topk,
        pq_ann_topk,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(3)
    dim, n = 32, 2000
    centers = rng.normal(0, 1, (12, dim))
    rows = []
    for i in range(n):
        v = centers[i % 12] + rng.normal(0, 0.15, dim)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    queries = corpus.filter("vec_id < 8")
    B = train_pq_codebooks(corpus, dim, m=8, sample_rows=2000, n_iters=8)
    assert B.shape == (8, 256, 4)
    approx = pq_ann_topk(corpus, queries, dim, k=10, m=8, codebooks=B)
    exact = cosine_topk(corpus, queries, k=10)
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(a[q] & e[q]) / 10 for q in e]
    assert sum(recalls) / len(recalls) >= 0.85, recalls  # rerank refines ADC
    # pure ADC (no rerank): coarser but sane, bounded scores
    pure = pq_ann_topk(corpus, queries, dim, k=10, m=8, codebooks=B, rerank_factor=None)
    for r in pure.collect():
        assert -1.01 <= r["cos_sim"] <= 1.01
