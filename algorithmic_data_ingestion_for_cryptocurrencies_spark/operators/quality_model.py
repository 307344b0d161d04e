"""Learned quality classifier (the fasttext/CCNet pipeline step):
train a linear model on weakly-labeled examples, score the whole
corpus distributed.

Every production LLM-data pipeline pairs the cheap heuristic filters
(:func:`.text.quality_features`) with a LEARNED classifier trained on
a small high-quality reference set vs random crawl text (GPT-3's
WebText-vs-CommonCrawl logreg, CCNet's fasttext, Llama's wiki-ref
classifier). This module is that step on Spark primitives:

- :func:`hashed_term_features` — hashing-trick term counts as a
  fixed-width ``array<double>`` built with pure Column expressions
  (xxhash64 tokens → bucket, conditional sums), so featurization is a
  narrow map with NO Python UDF and NO vocabulary broadcast — the
  100 TB-friendly shape (fasttext's hashing bigram bucket, same
  construction).
- :func:`train_quality_classifier` — logistic regression via
  ``pyspark.ml`` (distributed L-BFGS; public Spark MLlib).
- :func:`score_quality` — apply the fitted model, returning
  ``p_good`` per document.

No counterpart in the reference (its ML surface is inference-only
sentiment/embeddings, ``ml_utils.py``); beyond-reference component of
the training-data pipeline family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import tokenize
from .text import quality_features

#: numeric heuristic signals fed alongside the hashed term buckets
HEURISTIC_COLS = [
    "n_words", "avg_word_len", "punct_ratio", "digit_ratio",
    "upper_ratio", "stopword_ratio",
]


def hashed_term_features(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_buckets: int = 64,
    out_col: str = "term_buckets",
) -> DataFrame:
    """Hashing-trick bag-of-words: token → ``xxhash64(token) %
    n_buckets``, bucket counts normalized by document length. One
    narrow projection (explode-free: higher-order functions over the
    token array), deterministic, vocabulary-free — featurizing 100 TB
    is a map-only pass."""
    from ..functions.hof import bind_array

    # one tokenize per row, bound once (functions/hof.py) — the
    # n_buckets filters then scan the bound VARIABLE, not n_buckets
    # re-evaluations of the regex+split expression
    # NB: the bucket id must be captured via a one-parameter lambda
    # factory — a `lambda t, i=i:` default-arg capture makes a
    # TWO-parameter lambda, which PySpark's HOF binding treats as
    # (element, index), silently comparing against the token's array
    # position instead of the bucket id.
    def bucket_pred(bucket: int):
        return lambda t: F.pmod(F.xxhash64(t), F.lit(n_buckets)) == F.lit(bucket)

    def body(ws: F.Column) -> F.Column:
        n = F.size(ws).cast("double")
        counts = [
            F.size(F.filter(ws, bucket_pred(i))).cast("double")
            for i in range(n_buckets)
        ]
        return F.array(*[
            F.when(n > 0, c / n).otherwise(F.lit(0.0)) for c in counts
        ])

    return df.withColumn(out_col, bind_array(tokenize(F.col(text_col)), body))


def _assemble(df: DataFrame, *, text_col: str, n_buckets: int) -> DataFrame:
    """quality heuristics + hashed terms → an ml ``features`` vector."""
    from pyspark.ml.functions import array_to_vector

    feat = hashed_term_features(
        quality_features(df, text_col=text_col),
        text_col=text_col, n_buckets=n_buckets,
    )
    parts = [F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in HEURISTIC_COLS]
    full = F.concat(F.array(*parts), F.col("term_buckets"))
    return feat.withColumn("features", array_to_vector(full))


def train_quality_classifier(
    labeled: DataFrame,
    *,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = 64,
    max_iter: int = 30,
    reg_param: float = 1e-3,
):
    """Fit the logistic quality model on a weakly-labeled frame
    (``label_col`` ∈ {0.0, 1.0}: reference-quality vs crawl). Returns
    the fitted ``LogisticRegressionModel``; training is distributed
    L-BFGS over the assembled features (treeAggregate gradient — the
    standard MLlib scale path)."""
    from pyspark.ml.classification import LogisticRegression

    train = _assemble(labeled, text_col=text_col, n_buckets=n_buckets)
    lr = LogisticRegression(
        featuresCol="features", labelCol=label_col,
        maxIter=max_iter, regParam=reg_param, standardization=True,
    )
    return lr.fit(train)


def score_quality(
    df: DataFrame,
    model,
    *,
    text_col: str = "text",
    n_buckets: int = 64,
    out_col: str = "p_good",
) -> DataFrame:
    """Score documents with the fitted model: adds ``out_col`` =
    P(label=1). ``n_buckets`` must match training (the hashing trick
    is the feature contract). Scoring is a map-only pass — model
    coefficients broadcast with the plan."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_assemble(df, text_col=text_col, n_buckets=n_buckets))
    keep = [c for c in df.columns]
    return scored.select(
        *keep,
        F.element_at(vector_to_array("probability"), 2).alias(out_col),
    )


#: fixed-point scale for the per-document weight sum — the rule-W
#: order-independence trick (PLANS.md): quantize each token weight to
#: FLOOR(w * 2^40) and sum as BIGINT, so the parallel aggregation is
#: reproducible bit-for-bit in any engine (a float SUM's rounding
#: depends on reduction order). 2^-40 per-token quantization is far
#: below the 6-decimal compare grain.
NB_SCALE = float(1 << 40)


def train_nb_quality(
    train: DataFrame,
    *,
    text_col: str = "text",
    label_col: str = "label",
    alpha: float = 1.0,
) -> tuple[DataFrame, float, float]:
    """Multinomial Naive-Bayes quality classifier — the PORTABLE
    learned model (rule V/W): training is integer token counting plus
    add-``alpha``-smoothed log-likelihood ratios, so the fitted
    weights are a deterministic function of the training rows that
    any engine reproduces exactly (unlike
    :func:`train_quality_classifier`'s L-BFGS logistic regression,
    whose iterate path has no SQL twin). The same weak-label recipe
    applies (heuristic composite as the label); NB is the classic
    cheap strong baseline for exactly this corpus-filtering task
    (CCNet trains fasttext — also a log-linear bag-of-words).

    Returns ``(weights, prior, oov_weight)``: ``weights`` is a
    ``(token, weight)`` frame where ``weight = ln P(t|good) −
    ln P(t|bad)``; ``prior`` the class log-odds; ``oov_weight`` the
    smoothed weight for unseen tokens. Training is two aggregates
    (token×class counts, then totals) — map-side combined, linear in
    corpus tokens, no iterations, no driver-side data beyond four
    scalars.
    """
    lbl = F.col(label_col).cast("int")
    toks = train.select(
        lbl.alias("__y"), F.explode(tokenize(text_col)).alias("token")
    )
    cnt = toks.groupBy("token").agg(
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("__ng"),
        F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)).alias("__nb"),
    )
    tg, tb, v = cnt.agg(
        F.sum("__ng"), F.sum("__nb"), F.count(F.lit(1))
    ).first()
    n_good, n_bad = train.agg(
        F.sum(F.when(lbl == 1, 1).otherwise(0)),
        F.sum(F.when(lbl == 0, 1).otherwise(0)),
    ).first()
    if not v:
        raise ValueError(
            "train_nb_quality: empty training corpus (no tokens) — "
            "cannot fit smoothed class likelihoods"
        )
    denom_g = float(tg or 0) + alpha * float(v)
    denom_b = float(tb or 0) + alpha * float(v)
    weights = cnt.select(
        "token",
        (
            F.log((F.col("__ng") + F.lit(alpha)).cast("double") / F.lit(denom_g))
            - F.log((F.col("__nb") + F.lit(alpha)).cast("double") / F.lit(denom_b))
        ).alias("weight"),
    )
    import math

    prior = math.log((float(n_good or 0) + alpha) / (float(n_bad or 0) + alpha))
    oov = math.log(alpha / denom_g) - math.log(alpha / denom_b)
    return weights, prior, oov


def score_nb_quality(
    df: DataFrame,
    weights: DataFrame,
    *,
    prior: float,
    oov_weight: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents with a fitted :func:`train_nb_quality` model:
    ``log_odds = prior + Σ_tokens weight(t)`` (OOV tokens take the
    smoothed ``oov_weight``), ``p_good`` the logistic of it. The
    per-document sum runs in FIXED POINT (:data:`NB_SCALE`, rule W)
    so the result is independent of partitioning and engine — the
    registry row carries a hash-exact DuckDB oracle end-to-end
    through training AND scoring.

    Scale shape: explode → one equi-join on token (no broadcast
    assumption — the vocabulary of a 100 TB corpus shards across the
    cluster; AQE may still pick broadcast when it fits) → one
    groupBy(id). Linear in corpus tokens.
    """
    toks = df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("token"))
    w = toks.join(weights, "token", "left").select(
        id_col,
        F.coalesce(F.col("weight"), F.lit(float(oov_weight))).alias("__w"),
    )
    # DECIMAL(38,0), not BIGINT: Spark's non-ANSI BIGINT sum WRAPS on
    # overflow while DuckDB promotes — a pathological document
    # (~4e5 tokens at |w|~20 quantized to ~2e13 each) would cross
    # 2^63; the decimal sum holds ~1e38 and both engines agree
    # Cross-engine hash-exactness assumption (r11 advisor, documented):
    # the trained weights (LN ratios) and the final exp() in p_good
    # rely on JVM Math.log/exp and DuckDB's libm LN/EXP agreeing
    # BITWISE on the inputs this pipeline produces — a 1-ulp
    # divergence could flip FLOOR(w * 2^40) when w*2^40 sits within
    # the propagated error (~|LN|·2^-52·2^40 ≈ 5e-3 scale units) of an
    # integer, which a realistic vocabulary WILL occasionally do.
    # tests/test_media_text.py::test_nb_libm_bit_agreement verifies
    # the bit agreement empirically on the full sf0.01 registry
    # corpus (every distinct LN input from training, every EXP input
    # from scoring). If that test ever fails on a new environment,
    # the registry row's hash-exact oracle must be demoted to a
    # tolerance compare — do not paper over it by widening the scale.
    q = F.floor(F.col("__w") * F.lit(NB_SCALE)).cast("decimal(38,0)")
    agg = w.groupBy(id_col).agg(
        (
            F.sum(q).cast("double") / F.lit(NB_SCALE) + F.lit(float(prior))
        ).alias("log_odds")
    )
    return agg.select(
        id_col,
        "log_odds",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_odds")))).alias("p_good"),
    )
