"""Similarity search over an embedding column (array<float>).

- :func:`cosine_topk` — exact brute-force top-k: broadcast the (small)
  query set, JVM-side dot products via ``aggregate(zip_with(...))``, window
  top-k. The correctness baseline; O(|Q| x N) but embarrassingly parallel
  and broadcast-join shaped (no shuffle of the corpus).
- :func:`lsh_ann_topk` — the scale path: random-hyperplane LSH (signed
  projections -> bucket id), candidates = same-bucket (+ optional
  multiprobe on 1-bit flips), exact rerank inside buckets. Sub-linear
  candidate sets at 100 TB corpus scale; recall is property-tested against
  the brute-force baseline.
- :func:`ivf_ann_topk` — the other classic scale path: IVF (inverted-file)
  coarse quantization. k-means centroids trained driver-side on a bounded
  sample, vectors assigned to their nearest centroid's list relationally,
  queries probe the ``nprobe`` nearest lists with exact rerank. Unlike
  LSH, list sizes adapt to the data distribution (clustered corpora get
  balanced lists where hyperplanes would collapse to a few hot buckets).
- :func:`embedding_near_dup_pairs` — near-duplicate detection by cosine >=
  threshold within LSH buckets (the embedding-space analogue of MinHash
  dedup).

Everything is DataFrame-native. numpy runs driver-side on bounded-size
objects (the seeded hyperplane matrix, the sampled k-means training set and
its centroid table) and in per-Arrow-batch kernels with no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution needs it
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    Output: (query_id, vec_id, cos_sim, rank) with deterministic tiebreak
    (cos rounded to 1e-6, then vec_id).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    joined = c.crossJoin(F.broadcast(q.withColumn("qv", F.col("qv").cast("array<double>"))))
    joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    cos = (_dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv")))).alias("cos_sim")
    scored = joined.select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim)).round(6).tolist()


def _table_seed(seed: int, table: int) -> int:
    # independent hyperplane draws per table; 13 is the historic default
    return seed + 7919 * table  # 7919: 1000th prime, just a seed spacing


def _with_lsh_keys(
    df: DataFrame, vec_col: str, dim: int, n_planes: int, n_tables: int = 1,
    seed: int = 13,
) -> DataFrame:
    """``df`` plus ``lsh_keys`` (array<long>): per hyperplane table ``t`` the
    join key ``(t << n_planes) + bucket``, bit i of ``bucket`` = sign(<v,
    h_i>); with one table the key is the bucket id.

    One numpy pass per Arrow batch for every table's planes (an
    ``aggregate(zip_with(...))`` lambda per plane is ~50x slower at 48
    planes). The dot is :func:`_dot`'s left fold of double products, so
    every bit equals the SQL form's (tested), edge cases included: a NULL
    vector, a NULL element or a length other than ``dim`` gives a NULL dot
    and bit 0; a NaN dot counts as >= 0 (Spark orders NaN above numbers).
    """
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    planes = np.asarray(
        [p for t in range(n_tables) for p in _hyperplanes(dim, n_planes, _table_seed(seed, t))]
    )  # (n_tables * n_planes, dim)
    offsets = np.arange(n_tables, dtype=np.int64) << n_planes

    def keys(batches):
        import pyarrow.compute as pc

        for rb in batches:
            n = rb.num_rows
            vecs = rb.column(vec_col)
            lens = pc.list_value_length(vecs).fill_null(0).to_numpy(zero_copy_only=False)
            flat = pc.list_flatten(vecs)
            rows = np.flatnonzero(lens == dim)
            idx = (np.cumsum(lens) - lens)[rows, None] + np.arange(dim)
            whole = ~flat.is_null().to_numpy(zero_copy_only=False)[idx].any(1)
            rows, idx = rows[whole], idx[whole]
            v = flat.to_numpy(zero_copy_only=False).astype(np.float64)[idx]
            dot = np.zeros((rows.size, len(planes)))
            with np.errstate(invalid="ignore"):  # inf - inf: a NaN dot, as in SQL
                for i in range(dim):
                    dot += v[:, i, None] * planes[:, i]
            bits = np.zeros((n, len(planes)), np.int64)
            bits[rows] = (dot >= 0) | np.isnan(dot)
            k = (bits.reshape(n, n_tables, n_planes) << np.arange(n_planes)).sum(-1) + offsets
            yield rb.append_column("lsh_keys", pa.ListArray.from_arrays(
                pa.array(np.arange(0, k.size + 1, n_tables, dtype=np.int32)),
                pa.array(k.reshape(-1)),
            ))

    schema = StructType([*df.schema.fields, StructField("lsh_keys", ArrayType(LongType()))])
    return df.mapInArrow(keys, schema)


# resolution of the hash-threshold cap: keep-probability granularity is
# 1/_CAP_MOD, so a cap of 10^5 over a 10^9-row bucket is representable
_CAP_MOD = 1 << 30


def _cap_bucket_membership(
    c: DataFrame, max_bucket_size: int | None, bucket_col: str = "lsh_bucket"
) -> DataFrame:
    """Bound each LSH bucket to ~``max_bucket_size`` members, shuffle-free.

    2^n_planes buckets over a 10^9-vector corpus average ~250k members, so
    any in-bucket join is quadratic on a hot bucket unless membership is
    bounded. A per-bucket ``row_number`` window would serialize a degenerate
    hot bucket (hyperplane collapse: many identical/zero vectors) into ONE
    task's external sort of up to the whole corpus — the straggler shape
    this function exists to remove. Instead: a map-side-combined bucket
    count (the shuffle moves one row per DISTINCT bucket — at most
    2^n_planes × n_tables rows), filtered to over-cap buckets (bounded by
    total_rows / cap keys, so it broadcasts), then each row is kept iff
    ``pmod(xxhash64(bucket, vec_id), M) < M·cap/size`` — O(1) per row, no
    window, no per-bucket sort. The kept subset is deterministic for a
    given corpus and ≈cap-sized (binomial: each member kept independently
    with p = cap/size). Hashing (bucket, id) — not id alone — keeps the
    subsets independent across the buckets/tables a vector belongs to.
    Recall on over-cap buckets degrades gracefully and the cap is a knob;
    pass None to disable (small corpora / exact-oracle tests).
    """
    if not max_bucket_size:
        return c
    hot = (
        c.groupBy(bucket_col)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
    )
    thresh = (F.lit(float(_CAP_MOD * max_bucket_size)) / F.col("_bsz")).cast("long")
    return (
        c.join(F.broadcast(hot), bucket_col, "left")
        .filter(
            F.col("_bsz").isNull()
            | (F.pmod(F.xxhash64(F.col(bucket_col), F.col("vec_id")), F.lit(_CAP_MOD)) < thresh)
        )
        .drop("_bsz")
    )


def _ann_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_planes: int,
    multiprobe_bits: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
    max_bucket_size: int | None,
    seed: int = 13,
) -> DataFrame:
    """Distinct (query_id, vec_id, qv, cv) LSH candidate pairs across
    ``n_tables`` independent hyperplane tables.

    Each table's bucket id is folded with the table index into ONE join key
    (``table << n_planes | bucket``), so the whole multi-table candidate
    generation is a single equi-join however many tables there are. The
    corpus is replicated per table (the classic storage cost of multi-table
    LSH — L index copies); the membership cap applies per (table, bucket),
    so every join group stays bounded at ``max_bucket_size``.
    """
    c = _with_lsh_keys(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")),
        "cv", dim, n_planes, n_tables, seed,
    ).select("vec_id", "cv", F.explode("lsh_keys").alias("lsh_key"))
    c = _cap_bucket_membership(c, max_bucket_size, bucket_col="lsh_key")

    q = _with_lsh_keys(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv", dim, n_planes, n_tables, seed,
    )
    probe_cols = []
    for t in range(n_tables):
        key = F.col("lsh_keys")[t]
        # multiprobe: the query's own bucket + all sign patterns within
        # `multiprobe_bits` hyperplane flips, per table
        probe_cols.append(key)
        if multiprobe_bits >= 1:
            probe_cols += [key.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        if multiprobe_bits >= 2:
            probe_cols += [
                key.bitwiseXOR(F.lit((1 << i) | (1 << j)))
                for i in range(n_planes)
                for j in range(i + 1, n_planes)
            ]
    q = q.select(
        "query_id", "qv", F.explode(F.array(*probe_cols)).alias("lsh_key")
    )
    return (
        c.join(q, "lsh_key")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "cv")
        .dropDuplicates(["query_id", "vec_id"])
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    multiprobe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 100_000,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket or any
    bucket within ``multiprobe_bits`` bit-flips, in ANY of ``n_tables``
    independent hyperplane tables; exact cosine rerank inside the candidate
    set. Output schema matches :func:`cosine_topk`.

    ``n_tables`` is the scale lever for recall: one table of 2^n_planes
    buckets is too coarse for 10^9+ vectors (a near pair straddling one
    hyperplane is lost), while L independent tables miss only pairs
    separated in EVERY table — recall 1-(1-p)^L for per-table collision
    probability p, at the storage cost of L corpus replications (classic
    multi-table LSH; property-tested in test_text_ops). The DEFAULT is the
    scale-safe 4; pass ``n_tables=1`` explicitly for single-table behaviour
    (cheaper candidate generation on small corpora).

    ``max_bucket_size`` bounds corpus-side membership per (table, bucket)
    (see :func:`_cap_bucket_membership`) so a hot bucket contributes at most
    that many candidates per probing query instead of its full population."""
    cand = _ann_candidates(
        corpus, queries, dim, n_planes, multiprobe_bits, n_tables,
        id_col, vec_col, max_bucket_size,
    )
    cos = (
        _dot(F.col("cv").cast("array<double>"), F.col("qv").cast("array<double>"))
        / (_norm(F.col("cv").cast("array<double>")) * _norm(F.col("qv").cast("array<double>")))
    )
    scored = cand.select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_lists: int = 64,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    sample_rows: int = 100_000,
    n_iters: int = 10,
    seed: int = 13,
) -> "np.ndarray":
    """Spherical k-means centroids for IVF, trained driver-side on a
    BOUNDED sample (``sample(fraction).limit(sample_rows)`` — at 10^9+
    vectors pass a small fraction; the training set never exceeds
    ``sample_rows`` rows regardless). Returns an (n_lists, dim) float64
    matrix of unit centroids. Deterministic for a given seed.

    This is the standard IVF recipe (public technique, e.g. the inverted
    file of Sivic & Zisserman / FAISS IndexIVFFlat): cosine assignment =
    dot product against unit centroids; empty clusters reseed to a random
    training row.
    """
    rows = (
        corpus.select(F.col(vec_col))
        .sample(fraction=sample_fraction, seed=seed)
        .limit(sample_rows)
        .collect()
    )
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    n = X.shape[0]
    if n < n_lists:
        raise ValueError(f"training sample {n} smaller than n_lists {n_lists}")
    norms = np.linalg.norm(X, axis=1)
    X = X / np.where(norms == 0, 1.0, norms)[:, None]
    rng = np.random.default_rng(seed)
    C = X[rng.choice(n, n_lists, replace=False)].copy()
    for _ in range(n_iters):
        a = (X @ C.T).argmax(1)
        for j in range(n_lists):
            members = X[a == j]
            if len(members) == 0:
                C[j] = X[rng.integers(0, n)]
            else:
                m = members.sum(0)
                nm = np.linalg.norm(m)
                C[j] = m / (nm if nm > 0 else 1.0)
    return C


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_lists: int = 64,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    sample_fraction: float = 1.0,
    sample_rows: int = 100_000,
    max_list_size: int | None = 100_000,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k via IVF coarse quantization: every corpus vector
    joins the inverted list of its nearest centroid (ONE vectorized
    pandas-UDF matmul per Arrow batch — no per-row Python); each query
    probes its ``nprobe`` nearest lists; exact cosine rerank inside the
    probed lists. Output schema matches :func:`cosine_topk`.

    The scale shape: assignment is a narrow map (no shuffle), the probe
    join broadcasts the (tiny) exploded query side, and candidate count
    per query ~ nprobe/n_lists of the corpus — list sizes follow the data
    distribution, so clustered corpora (where hyperplane LSH degenerates
    into a few hot buckets) stay balanced. Pass a precomputed
    ``centroids`` matrix to share one codebook across jobs (and to keep
    the operator deterministic under retraining).

    ``max_list_size`` bounds corpus-side membership per inverted list with
    the same shuffle-free hash-threshold subset as the LSH path
    (:func:`_cap_bucket_membership`): a tightly clustered corpus can put a
    large corpus fraction into one list, and every query probing that list
    would fan out accordingly. Over-cap lists contribute a deterministic
    ≈cap-sized subset of candidates; pass None to disable (exact within
    probed lists — small corpora / tests).
    """
    from pyspark.sql.functions import pandas_udf

    C = (
        centroids
        if centroids is not None
        else train_ivf_centroids(
            corpus, dim, n_lists, vec_col, sample_fraction, sample_rows, seed=seed
        )
    )
    C = np.asarray(C, dtype=np.float64)
    n_lists = C.shape[0]
    nprobe = min(nprobe, n_lists)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(x, np.float64) for x in v], dtype=np.float64)
        norms = np.linalg.norm(M, axis=1)
        M = M / np.where(norms == 0, 1.0, norms)[:, None]
        return pd.Series((M @ C.T).argmax(1).astype(np.int32))

    @pandas_udf("array<int>")
    def probes(v: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(x, np.float64) for x in v], dtype=np.float64)
        norms = np.linalg.norm(M, axis=1)
        M = M / np.where(norms == 0, 1.0, norms)[:, None]
        sim = M @ C.T
        top = np.argsort(-sim, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).withColumn("list_id", assign(F.col("cv")))
    # persisted: the assignment pandas-UDF subtree otherwise re-runs for
    # the cap's size aggregate, the cap's filter join and the probe join
    c = c.persist()
    c = _cap_bucket_membership(c, max_list_size, bucket_col="list_id")
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("list_id", F.explode(probes(F.col("qv"))))
    )
    cand = c.join(F.broadcast(q), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = (
        _dot(F.col("cv").cast("array<double>"), F.col("qv").cast("array<double>"))
        / (_norm(F.col("cv").cast("array<double>")) * _norm(F.col("qv").cast("array<double>")))
    )
    scored = cand.select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate vector pairs (cos >= threshold) within LSH buckets.

    The in-bucket self-join is quadratic in bucket size, so buckets larger
    than ``max_bucket_size`` are salted into ``ceil(size / cap)`` sub-buckets
    by a deterministic hash of the id and pairs are emitted within sub-buckets
    only. That bounds every join group at cap^2 while still pairing each
    member of an all-identical hot bucket with neighbours in its salt group —
    sufficient to MARK every hot-bucket member as a duplicate (the dedup use
    case), at the documented cost of not enumerating cross-salt pairs.
    Buckets at or under the cap get salt 0 on both sides: behaviour there is
    exactly the uncapped join. Pass None to disable.
    """
    c = _with_lsh_keys(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        "v", dim, n_planes,
    ).select("vec_id", "v", F.col("lsh_keys")[0].alias("lsh_bucket"))
    c = c.persist()  # consumed by the size aggregate and both self-join sides
    if max_bucket_size:
        # <= 2^n_planes rows: broadcast back onto the corpus for free
        freq = c.groupBy("lsh_bucket").agg(F.count(F.lit(1)).alias("_bn"))
        c = c.join(F.broadcast(freq), "lsh_bucket").withColumn(
            "_salt",
            F.when(F.col("_bn") <= max_bucket_size, F.lit(0)).otherwise(
                F.pmod(
                    F.xxhash64(F.col("vec_id")),
                    F.ceil(F.col("_bn") / F.lit(max_bucket_size)).cast("long"),
                )
            ),
        ).drop("_bn")
    else:
        c = c.withColumn("_salt", F.lit(0))
    a = c.alias("a")
    b = c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
        & (F.col("a._salt") == F.col("b._salt"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = (
        _dot(F.col("a.v").cast("array<double>"), F.col("b.v").cast("array<double>"))
        / (
            _norm(F.col("a.v").cast("array<double>"))
            * _norm(F.col("b.v").cast("array<double>"))
        )
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_lists: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    sample_fraction: float = 1.0,
    sample_rows: int = 100_000,
    max_cluster_size: int | None = 10_000,
    seed: int = 13,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public technique: Abbas et
    al., "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): spherical k-means clusters the
    embedding space, then ONLY within each cluster are cosine
    similarities computed; a vector whose cosine to a lower-id cluster
    member reaches ``threshold`` is marked a duplicate of its smallest
    such neighbour (deterministic representative = min id).

    Output: ``(vec_id, is_dup, dup_of)`` for every corpus row; ``dup_of``
    is NULL for keepers.

    Scale shape: centroid training is a bounded driver-side sample
    (:func:`train_ivf_centroids`), assignment is one vectorized
    pandas-UDF matmul per Arrow batch (narrow map, no shuffle), and the
    quadratic step is confined to clusters — over-cap clusters are salted
    into ``ceil(size / cap)`` hash sub-clusters exactly like
    :func:`embedding_near_dup_pairs` (an all-identical hot cluster still
    marks every member, which is the dedup use case). One shuffle for the
    in-cluster join, one for the per-duplicate min — both keyed on
    cluster/doc ids, never all-pairs.
    """
    from pyspark.sql.functions import pandas_udf

    C = (
        centroids
        if centroids is not None
        else train_ivf_centroids(
            corpus, dim, n_lists, vec_col, sample_fraction, sample_rows, seed=seed
        )
    )
    C = np.asarray(C, dtype=np.float64)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(x, np.float64) for x in v], dtype=np.float64)
        norms = np.linalg.norm(M, axis=1)
        M = M / np.where(norms == 0, 1.0, norms)[:, None]
        return pd.Series((M @ C.T).argmax(1).astype(np.int32))

    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).withColumn("list_id", assign(F.col("v")))
    # the assignment subtree is consumed by BOTH self-join sides and (with
    # the cap on) the cluster-size aggregate — without a persist, Spark
    # re-runs the pandas-UDF matmul scan once per consumer. Persisted
    # inside the operator (documented): assignments are id+code sized.
    c = c.persist()
    if max_cluster_size:
        freq = c.groupBy("list_id").agg(F.count(F.lit(1)).alias("_bn"))
        c = c.join(F.broadcast(freq), "list_id").withColumn(
            "_salt",
            F.when(F.col("_bn") <= max_cluster_size, F.lit(0)).otherwise(
                F.pmod(
                    F.xxhash64(F.col("vec_id")),
                    F.ceil(F.col("_bn") / F.lit(max_cluster_size)).cast("long"),
                )
            ),
        ).drop("_bn")
    else:
        c = c.withColumn("_salt", F.lit(0))
    a = c.alias("a")
    b = c.alias("b")
    cos = (
        _dot(F.col("a.v").cast("array<double>"), F.col("b.v").cast("array<double>"))
        / (
            _norm(F.col("a.v").cast("array<double>"))
            * _norm(F.col("b.v").cast("array<double>"))
        )
    )
    dups = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(cos, 6) >= threshold)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(F.min(F.col("a.vec_id")).alias("dup_of"))
    )
    base = corpus.select(F.col(id_col).alias("vec_id"))  # no assignment pass
    return (
        base.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            F.col("dup_of").cast("long").alias("dup_of"),
        )
    )


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 256,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    sample_rows: int = 100_000,
    n_iters: int = 12,
    seed: int = 29,
) -> "np.ndarray":
    """Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 — the
    public technique behind FAISS IndexPQ): split the (unit-normalized)
    vector into ``m`` subspaces and k-means each to ``ksub`` centroids.

    Returns an (m, ksub, dim//m) float64 array. Training is a bounded
    driver-side sample like :func:`train_ivf_centroids` — the codebook
    is a few hundred KB regardless of corpus size, which is the point:
    a 10^9-vector corpus of 64-dim float32 is 256 GB of vectors but only
    8 GB of 8-byte PQ codes.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = (
        corpus.select(F.col(vec_col))
        .sample(fraction=sample_fraction, seed=seed)
        .limit(sample_rows)
        .collect()
    )
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    X = X / np.where(norms == 0, 1.0, norms)[:, None]
    n = X.shape[0]
    k_eff = min(ksub, n)
    rng = np.random.default_rng(seed)
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(n, k_eff, replace=False)].copy()
        S2 = (S * S).sum(1)[:, None]
        for _ in range(n_iters):
            # ||s-c||^2 = ||s||^2 + ||c||^2 - 2 s.c — BLAS matmul, ~10x the
            # broadcast-subtraction tensor
            d2 = S2 + (C * C).sum(1)[None, :] - 2.0 * (S @ C.T)
            a = d2.argmin(1)
            for c in range(k_eff):
                mem = S[a == c]
                C[c] = mem.mean(0) if len(mem) else S[rng.integers(0, n)]
        books[j, :k_eff] = C
        if k_eff < ksub:
            books[j, k_eff:] = C[rng.integers(0, k_eff, ksub - k_eff)]
    return books


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: "np.ndarray | None" = None,
    sample_fraction: float = 1.0,
    sample_rows: int = 100_000,
    rerank_factor: int | None = 8,
    seed: int = 29,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over PQ
    codes — the memory-bounded ANN path: the corpus is scanned as m-byte
    codes (dim/m× smaller than the raw vectors), never shuffled; each
    query broadcasts an (m, ksub) lookup table of subspace distances and
    scoring is one vectorized numpy gather-sum per Arrow batch.

    Vectors are unit-normalized first, so L2 ranking == cosine ranking
    (||a-b||² = 2 - 2·cos for unit vectors).

    ``rerank_factor``: ADC alone ranks coarse (8-byte codes can't resolve
    tight in-cluster neighbours), so the standard refine stage keeps the
    top ``k·rerank_factor`` per query by ADC, fetches ONLY those
    candidates' true vectors (broadcast keyed lookup — k·factor rows per
    query, the corpus is never re-shuffled) and reranks by exact cosine.
    Output schema matches :func:`cosine_topk`; with rerank on, cos_sim is
    the EXACT cosine of the kept candidates. Pass None for pure ADC
    (cos_sim = 1 - adc²/2, the PQ approximation).
    """
    from pyspark.sql.functions import pandas_udf

    B = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(
            corpus, dim, m=m, vec_col=vec_col,
            sample_fraction=sample_fraction, sample_rows=sample_rows, seed=seed,
        )
    )
    B = np.asarray(B, dtype=np.float64)
    m_, ksub, dsub = B.shape

    @pandas_udf("binary")
    def encode(v: pd.Series) -> pd.Series:
        # codes ship as LITERAL m-byte binary (ksub <= 256), so the
        # dim/m x compression claim is the on-wire/table reality, not
        # an array<int> approximation of it
        M = np.asarray([np.asarray(x, np.float64) for x in v], dtype=np.float64)
        norms = np.linalg.norm(M, axis=1)
        M = M / np.where(norms == 0, 1.0, norms)[:, None]
        codes = np.empty((len(M), m_), np.uint8)
        for j in range(m_):
            S = M[:, j * dsub : (j + 1) * dsub]
            Bj = B[j]
            d2 = (
                (S * S).sum(1)[:, None]
                + (Bj * Bj).sum(1)[None, :]
                - 2.0 * (S @ Bj.T)
            )
            codes[:, j] = d2.argmin(1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    coded = corpus.select(
        F.col(id_col).alias("vec_id"), encode(F.col(vec_col)).alias("code")
    )
    qrows = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)).collect()
    Q = np.asarray([list(r[1]) for r in qrows], dtype=np.float64)
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qn = np.linalg.norm(Q, axis=1)
    Q = Q / np.where(qn == 0, 1.0, qn)[:, None]
    # (n_q, m, ksub) subspace LUTs, broadcast once; tiny (n_q·m·ksub·8B)
    luts = np.stack(
        [
            ((Q[:, j * dsub : (j + 1) * dsub][:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
            for j in range(m_)
        ],
        axis=1,
    )

    # scoring kernel: plain loop over the m subspaces, vectorized over
    # batch and queries — O(batch · n_q · m) adds per Arrow batch
    @pandas_udf("array<double>")
    def adc_plain(codes: pd.Series) -> pd.Series:
        C = np.frombuffer(b"".join(codes), dtype=np.uint8).reshape(-1, m_).astype(np.int64)
        total = np.zeros((C.shape[0], luts.shape[0]))
        for j in range(m_):
            total += luts[:, j, :][:, C[:, j]].T  # (batch, n_q)
        return pd.Series(list(total))

    scored = coded.withColumn("d2s", adc_plain(F.col("code")))
    exploded = scored.select(
        "vec_id", F.posexplode("d2s").alias("qpos", "d2")
    )
    qmap = F.array(*[F.lit(int(q)) for q in qids])
    exploded = exploded.withColumn(
        "query_id", qmap[F.col("qpos")].cast("long")
    ).filter(F.col("vec_id") != F.col("query_id"))
    adc_cos = (F.lit(1.0) - F.col("d2") / F.lit(2.0))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    shortlist_k = k if rerank_factor is None else k * rerank_factor
    shortlist = (
        exploded.select("query_id", "vec_id", F.round(adc_cos, 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_k)
    )
    if rerank_factor is None:
        return shortlist.select("query_id", "vec_id", "cos_sim", "rank")
    # refine: exact cosine on the (k·factor per query) candidates only —
    # the corpus joins a BROADCAST candidate set, so this is a map-side
    # keyed fetch, never a corpus shuffle
    cands = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).join(F.broadcast(shortlist.select("query_id", "vec_id")), "vec_id")
    qside = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    rer = cands.join(F.broadcast(qside), "query_id")
    cos = (
        _dot(F.col("cv").cast("array<double>"), F.col("qv").cast("array<double>"))
        / (
            _norm(F.col("cv").cast("array<double>"))
            * _norm(F.col("qv").cast("array<double>"))
        )
    )
    return (
        rer.select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )
