"""Text analysis operators over a documents table (doc_id, text, ...).

Everything here is pure DataFrame expressions (JVM, codegen, SQL-oracle
checkable): token counting (whitespace + BPE-ish regex), quality scoring
(length / punctuation / stopword / alpha ratios) and content
fingerprinting (md5 over normalized text). Designed for 100 TB document
tables: no UDFs, no shuffles beyond what the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# English stopword anchors counted by the quality score
_EN_STOPWORDS = r"\b(the|and|of|to|is)\b"

# BPE-ish token classes: letter runs, single digits, single punctuation
_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def _txt() -> Column:
    return F.coalesce(F.col("text"), F.lit(""))


def with_token_counts(df: DataFrame) -> DataFrame:
    """ws_tokens: whitespace-delimited; bpe_tokens: regex token classes."""
    trimmed = F.trim(_txt())
    ws = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    return df.withColumn("ws_tokens", ws.cast("long")).withColumn(
        "bpe_tokens", F.regexp_count(_txt(), F.lit(_BPE_PATTERN)).cast("long")
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """Length/punct/stopword/alpha based quality heuristics.

    Emits integer counts (n_chars, n_alpha, n_punct, n_stopword_hits) and a
    composite score in [0,1]: mean of alpha ratio, 1 - punct ratio, a
    length factor (n_chars/500 capped at 1) and a stopword factor
    (hits/20 capped at 1). Exported as floor(score*1e6) for cross-engine
    determinism.
    """
    n_chars = F.length(_txt())
    n_alpha = n_chars - F.length(F.regexp_replace(_txt(), r"[A-Za-z]", ""))
    n_punct = n_chars - F.length(F.regexp_replace(_txt(), r"[^\w\s]", ""))
    n_stop = F.regexp_count(F.lower(_txt()), F.lit(_EN_STOPWORDS))
    safe = F.greatest(n_chars.cast("double"), F.lit(1.0))
    score = (
        n_alpha / safe
        + (F.lit(1.0) - n_punct / safe)
        + F.least(n_chars / F.lit(500.0), F.lit(1.0))
        + F.least(n_stop / F.lit(20.0), F.lit(1.0))
    ) / F.lit(4.0)
    return (
        df.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_alpha", n_alpha.cast("long"))
        .withColumn("n_punct", n_punct.cast("long"))
        .withColumn("n_stopword_hits", n_stop.cast("long"))
        .withColumn("quality_x1e6", F.floor(score * 1e6).cast("long"))
    )


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of the normalized text (lowercase, collapsed
    whitespace, trimmed) — the exact-dedup key."""
    normalized = F.trim(F.regexp_replace(F.lower(_txt()), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(normalized))


def bm25_score(
    df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set.

    The ranking function every retrieval-backed training-data pipeline
    ends up needing (hard-negative mining, query-relevance filtering).
    Uses the BM25+-style smoothed IDF ``ln((N - df + 0.5)/(df + 0.5) + 1)``
    (always >= 0) with the standard tf saturation / length normalization.

    Scale shape: per-document term frequencies are JVM ``regexp_count``
    expressions (codegen, no UDFs); the corpus statistics (N, avgdl, one
    document frequency per term) partially aggregate to a SINGLE row which
    is broadcast back over the corpus — one reduce-to-one-row exchange
    plus a map-side join, no corpus shuffle, so the plan is flat at 100 TB.

    Output: ``(id_col, dl, tf_<term>..., bm25_x1e6)`` with the score
    floor-integerized at 1e-6 (the repo's oracle-exact float convention).
    """
    lowered = F.lower(_txt())
    trimmed = F.trim(_txt())
    dl = (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("long")
    )
    docs = df.select(
        F.col(id_col),
        dl.alias("dl"),
        *[
            F.regexp_count(lowered, F.lit(rf"\b{t}\b")).cast("long").alias(f"tf_{t}")
            for t in terms
        ],
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in terms
        ],
    )
    scored = docs.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for t in terms:
        tf = F.col(f"tf_{t}").cast("double")
        dfreq = F.col(f"df_{t}").cast("double")
        n = F.col("n_docs").cast("double")
        idf = F.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        norm = k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
        score = score + idf * tf * (k1 + 1.0) / (tf + norm)
    return scored.select(
        id_col,
        "dl",
        *[f"tf_{t}" for t in terms],
        F.floor(score * 1e6).cast("long").alias("bm25_x1e6"),
    )


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    min_count: int = 1,
) -> DataFrame:
    """Global token-frequency table, top-k (vocabulary building).

    Lower-cased whitespace tokens, counted corpus-wide, top ``k`` by
    (count desc, token asc — deterministic tiebreak). The scale shape is
    the one that works at 100 TB: explode feeds a hash aggregate with
    map-side partial combine (per-partition partials are at most
    |vocab| rows regardless of corpus size), and the global top-k is a
    TakeOrderedAndProject — per-partition heaps, no full sort, no
    single-task collect.
    """
    trimmed = F.trim(F.lower(_txt()))
    toks = F.when(F.length(trimmed) == 0, F.expr("CAST(array() AS ARRAY<STRING>)")).otherwise(
        F.split(trimmed, r"\s+")
    )
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    max_vocab: int = 100_000,
    oov_alpha: float = 0.5,
    group_col: str | None = None,
) -> DataFrame:
    """Per-document mean unigram negative log-likelihood — the classic
    LM-based quality filter proxy (the shape of CCNet's KenLM perplexity
    gate, Wenzek et al. arXiv:1911.00359, with the corpus's own unigram
    model standing in for the external LM).

    Two-pass plan that survives 100 TB:

    1. vocabulary pass — explode → hash aggregate (map-side combined),
       keep the ``max_vocab`` most frequent tokens (deterministic
       (count desc, token asc) cut) so the model BROADCASTS regardless of
       corpus size; everything rarer scores at an out-of-vocabulary floor
       ``ln(oov_alpha / total)``.
    2. scoring pass — explode → broadcast join with the model → per-doc
       sum. Token rows never shuffle: a document's tokens are co-located,
       so the partial aggregate collapses them to ONE row per document
       before the (n_docs-row) exchange.

    Determinism: each token's log-prob is quantized to ``floor(ln(p) *
    1e6)`` BEFORE summing — integer sums are exact and order-free, so the
    result is reproducible across partitionings and engines (a raw double
    sum over an exploded, arbitrarily-ordered token stream is not).

    Output: ``(id_col, n_tokens, sum_lp_x1e6, mean_nll_x1e6)`` where
    ``mean_nll_x1e6 = floor(-sum / n)``; empty documents score 0.

    ``group_col`` trains one model PER GROUP (the CCNet shape: a
    per-language LM scores each language's documents against its own
    distribution); the top-``max_vocab`` cut and OOV floor then apply
    within each group.
    """
    trimmed = F.trim(F.lower(_txt()))
    toks = F.when(
        F.length(trimmed) == 0, F.expr("CAST(array() AS ARRAY<STRING>)")
    ).otherwise(F.split(trimmed, r"\s+"))
    import math

    gcols = [group_col] if group_col else []
    tok_rows = df.select(F.col(id_col), *gcols, F.explode(toks).alias("token"))
    vocab = tok_rows.groupBy(*gcols, "token").agg(F.count(F.lit(1)).alias("cnt"))
    total_w = (
        Window.partitionBy(*gcols) if gcols else Window
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # pass 1 materializes the (bounded, <= max_vocab row) model ONCE —
    # the window-total rides the same aggregate, and the single collect
    # pins the global total for the OOV floor literal, so pass 2 is the
    # only other corpus scan (an uncached total-reaggregation lineage
    # would have re-scanned the corpus a third time)
    ranked = vocab.withColumn("total", F.sum("cnt").over(total_w))
    if gcols:
        rk = F.row_number().over(
            Window.partitionBy(*gcols).orderBy(F.col("cnt").desc(), F.col("token").asc())
        )
        ranked = ranked.withColumn("_rk", rk).filter(F.col("_rk") <= max_vocab)
    else:
        ranked = ranked.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(max_vocab)
    model = (
        ranked.withColumn(
            "lp_x1e6",
            F.floor(
                F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
                * F.lit(1e6)
            ).cast("long"),
        )
        .select(*gcols, "token", "lp_x1e6", "total")
        .collect()
    )
    if group_col:
        totals = {r[group_col]: int(r["total"]) for r in model}
        oov_by_group = {
            g: math.floor(math.log(float(oov_alpha) / t) * 1e6)
            for g, t in totals.items()
        }
        kept = df.sparkSession.createDataFrame(
            [(r[group_col], r["token"], r["lp_x1e6"]) for r in model]
            or [(None, None, 0)],
            f"{group_col} STRING, token STRING, lp_x1e6 LONG",
        )
        oov_df = df.sparkSession.createDataFrame(
            list(oov_by_group.items()) or [(None, 0)],
            f"{group_col} STRING, _oov_lp LONG",
        )
        scored = (
            tok_rows.join(F.broadcast(kept), [group_col, "token"], "left")
            .join(F.broadcast(oov_df), group_col, "left")
            .withColumn(
                "lp_final",
                F.coalesce(F.col("lp_x1e6"), F.col("_oov_lp"), F.lit(0)),
            )
        )
    else:
        if model:
            total = int(model[0]["total"])
            oov_lp = math.floor(math.log(float(oov_alpha) / total) * 1e6)
        else:
            oov_lp = 0
        kept = df.sparkSession.createDataFrame(
            [(r["token"], r["lp_x1e6"]) for r in model] or [(None, 0)],
            "token STRING, lp_x1e6 LONG",
        )
        scored = tok_rows.join(F.broadcast(kept), "token", "left").withColumn(
            "lp_final", F.coalesce(F.col("lp_x1e6"), F.lit(oov_lp))
        )
    scored = (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_final").alias("sum_lp_x1e6"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("sum_lp_x1e6"), F.lit(0)).cast("long").alias("sum_lp_x1e6"),
            F.when(
                F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                F.floor(
                    -F.col("sum_lp_x1e6").cast("double") / F.col("n_tokens").cast("double")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_nll_x1e6"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    max_vocab: int = 200_000,
) -> DataFrame:
    """Per-document mean bigram (transition) negative log-likelihood under
    the corpus's own bigram model: p(w_i | w_{i-1}) = cnt(w_{i-1} w_i) /
    cnt(w_{i-1} *) — the next fidelity step after the unigram proxy
    (:func:`unigram_logprob`): repetitive or scrambled text scores
    anomalously against learned transitions even when its unigram
    distribution looks normal.

    Same determinism contract: per-transition log-probs are
    floor(ln(p)·1e6)-quantized BEFORE summing (integer sums — order-free,
    engine-exact); both counts are exact integers so the division is the
    same IEEE double everywhere. Model = top-``max_vocab`` bigrams by
    (count desc, bigram asc), broadcast; transitions outside the kept set
    score 0 (they simply don't contribute — the documented cut).

    Output: ``(id_col, n_transitions, sum_lp_x1e6, mean_nll_x1e6)``.
    """
    trimmed = F.trim(F.lower(_txt()))
    toks = F.when(
        F.length(trimmed) == 0, F.expr("CAST(array() AS ARRAY<STRING>)")
    ).otherwise(F.split(trimmed, r"\s+"))
    big = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(2)),
            lambda i: F.concat_ws(" ", toks[i], toks[i + F.lit(1)]),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    trans = df.select(F.col(id_col), F.explode(big).alias("bigram"))
    counts = trans.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    prefix_w = Window.partitionBy(F.split(F.col("bigram"), " ")[0]).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    model = (
        counts.withColumn("prefix_cnt", F.sum("cnt").over(prefix_w))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(max_vocab)
        .withColumn(
            "lp_x1e6",
            F.floor(
                F.log(F.col("cnt").cast("double") / F.col("prefix_cnt").cast("double"))
                * F.lit(1e6)
            ).cast("long"),
        )
        .select("bigram", "lp_x1e6")
    )
    scored = (
        trans.join(F.broadcast(model), "bigram", "left")
        .withColumn("lp_final", F.coalesce(F.col("lp_x1e6"), F.lit(0)))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum("lp_final").alias("sum_lp_x1e6"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_transitions"), F.lit(0)).cast("long").alias("n_transitions"),
            F.coalesce(F.col("sum_lp_x1e6"), F.lit(0)).cast("long").alias("sum_lp_x1e6"),
            F.when(
                F.coalesce(F.col("n_transitions"), F.lit(0)) > 0,
                F.floor(
                    -F.col("sum_lp_x1e6").cast("double")
                    / F.col("n_transitions").cast("double")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_nll_x1e6"),
        )
    )
