"""Deduplication operators over a documents table (doc_id, text, ...).

Three fuzzy strategies, each a composition of built-in DataFrame ops
(Catalyst optimizable, shuffle-conscious). Exact dedup needs no operator:
it is a plain ``GROUP BY`` on the normalized-text fingerprint (q25).

- :func:`ngram_jaccard_pairs` — exact n-gram-shingle Jaccard for candidate
  pairs sharing at least one shingle: explode -> self-join on shingle ->
  count distinct common shingles / union. The shingle join is the scale
  path (pairs never materialize beyond shared-shingle candidates); a
  frequency cap drops stop-shingles that would explode the join.
- :func:`minhash_lsh_pairs` — MinHash signatures (k permutations as k
  min-aggregates in ONE groupBy — a single shuffle, JVM-side) banded into
  LSH buckets; bucket-mates are candidates, verified with exact Jaccard.
- :func:`simhash_pairs` — 64-bit SimHash per document (weighted token
  hash bit-voting, computed relationally with explode + bit arithmetic),
  banded on 16-bit chunks, hamming-verified.

At 100 TB: every strategy is (narrow map) -> (explode) -> (hash shuffle on
shingle/band) -> (bounded join). No driver-side collection, no cross joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(col="text"):
    t = F.lower(F.coalesce(F.col(col), F.lit("")))
    return F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "")


def _shingles(n: int = 3):
    """Word n-gram shingles as strings (distinct per doc)."""
    toks = _tokens()
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def _shingle_table(df: DataFrame, n: int, max_doc_freq: int | None) -> DataFrame:
    sh = df.select("doc_id", F.explode(_shingles(n)).alias("shingle"))
    if max_doc_freq:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(freq.filter(F.col("_df") <= max_doc_freq), "shingle")
        sh = sh.select("doc_id", "shingle")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Shingle-Jaccard near-dup pairs (doc_a < doc_b) — exact over the
    full shingle universe when ``max_doc_freq=None``, capped-universe by
    default (stop-shingles dropped; see below).

    Output: (doc_a, doc_b, n_common, n_a, n_b) with
    jaccard = n_common / (n_a + n_b - n_common) >= threshold. Counts are
    integers -> cross-engine exact (over whichever shingle universe was
    used). The applied cap is recorded in the ``n_common`` column's
    metadata (``{"max_doc_freq": cap}``) so downstream consumers can
    detect capped/approximate results without threading the parameter.

    ``max_doc_freq`` caps how many documents may share a shingle before it
    is dropped as a stop-shingle: the self-join on shingle produces
    O(doc_freq^2) rows per shingle, so one boilerplate phrase shared by a
    million documents would otherwise explode the join at scale. The
    DEFAULT is the scale-safe 1000 (every join group bounded at ~10^6
    rows); pass ``None`` explicitly to get the exact full-universe Jaccard
    (e.g. for oracle comparisons on small data). With a cap, shingle sizes
    (n_a/n_b) are computed over the same capped universe so Jaccard stays
    internally consistent over the reduced shingle set.
    """
    sh = _shingle_table(df, n, max_doc_freq)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_common")
            >= F.lit(threshold) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    out = out.select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    if max_doc_freq:
        out = out.withMetadata("n_common", {"max_doc_freq": max_doc_freq})
    return out


# deterministic MinHash permutation parameters (public textbook scheme:
# h_i(x) = (a_i * x + b_i) mod p). p = 2^31 - 1 keeps a*x inside int64
# (a, x < 2^31 -> product < 2^62), avoiding ANSI long-overflow.
_MH_P = (1 << 31) - 1


def _mh_params(k: int, seed: int = 7):
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MH_P - 1, size=k, dtype=np.int64)
    b = rng.integers(0, _MH_P - 1, size=k, dtype=np.int64)
    return a.tolist(), b.tolist()


def minhash_signatures(df: DataFrame, n: int = 3, k: int = 32) -> DataFrame:
    """(doc_id, sig: array<long>) — k MinHash values in ONE groupBy.

    shingle -> 64-bit xxhash -> k affine permutations -> min per doc. The k
    mins are k aggregate expressions over one shuffle (no crossJoin with a
    permutation table).
    """
    a, b = _mh_params(k)
    sh = df.select("doc_id", F.explode(_shingles(n)).alias("shingle"))
    x = (F.abs(F.xxhash64("shingle")) % F.lit(_MH_P)).alias("x")
    sh = sh.select("doc_id", x)
    aggs = [
        F.min((F.col("x") * F.lit(int(a[i])) + F.lit(int(b[i]))) % F.lit(_MH_P)).alias(f"h{i}")
        for i in range(k)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Bands of k/bands rows hash to buckets; same-bucket pairs are candidates;
    exact shingle Jaccard (integer counts) filters at ``threshold``.
    Output: (doc_a, doc_b, n_common, n_a, n_b).
    """
    rows = k // bands
    sig = minhash_signatures(df, n, k)
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(F.concat_ws(",", *[F.col("sig")[i * rows + j] for j in range(rows)])).alias("bh"),
        )
        for i in range(bands)
    ]
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    l_ = banded.alias("l")
    r_ = banded.alias("r")
    cand = (
        l_.join(
            r_,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification on the candidate set only
    sh = df.select("doc_id", F.explode(_shingles(n)).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .filter(
            F.col("n_common")
            >= F.lit(threshold) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    return out.select("doc_a", "doc_b", "n_common", "n_a", "n_b")


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc, fully relational: token -> xxhash64 ->
    per-bit +-1 votes weighted by term frequency -> sign -> bit assembly."""
    tok = df.select("doc_id", F.explode(_tokens()).alias("tok"))
    tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("w"))
    tok = tok.withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("w")).otherwise(-F.col("w"))
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band on 16-bit chunks (pigeonhole: any
    pair within hamming<=3 shares at least one of 4 exact chunks), verify
    hamming distance exactly via bit_count(xor)."""
    sig = simhash_signatures(df)
    chunks = [
        F.struct(F.lit(i).alias("band"),
                 F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("bh"))
        for i in range(4)
    ]
    banded = sig.select("doc_id", "simhash", F.explode(F.array(*chunks)).alias("b")).select(
        "doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    l_ = banded.alias("l")
    r_ = banded.alias("r")
    pairs = (
        l_.join(
            r_,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Near-dup PAIRS -> clusters: ``(node, component)`` where component is
    the smallest node id reachable through the pair graph.

    The missing last stage of every dedup strategy in this module: the
    pair emitters (jaccard / minhash / simhash / embedding) produce edges,
    but a pipeline keeps ONE document per connected component, not per
    pair — A~B and B~C must collapse A, B, C together even though (A, C)
    was never emitted.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    literature), which converges in O(log n) rounds on any graph, vs the
    O(diameter) of naive label propagation — duplicate chains (near-dup
    A~B~C~...) are exactly the adversarial case for the naive loop. Each
    round is two grouped aggregations + joins keyed on node id; high-degree
    hubs shrink every round by construction, so no star serializes into
    one task. Lineage is truncated per round with ``localCheckpoint`` (on
    a cluster, set a checkpoint dir and swap for ``checkpoint`` if
    executor loss matters). Convergence is detected with an order-
    insensitive (count, hash-sum) aggregate pair — two scalar actions per
    round, no edge-set collect.
    """
    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    def _signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-insensitive and overflow-free under ANSI
            # (summing full-range xxhash64 values overflows long)
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    e = edges.localCheckpoint()
    sig = _signature(e)
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint()
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds (O(log n) expected; this graph would need > 2^30 nodes)"
        )
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )
