"""DSIR — Data Selection with Importance Resampling (Xie et al.,
NeurIPS 2023): pick the k raw-corpus docs whose hashed-n-gram feature
distribution looks most like a small trusted target set, by importance
weighting in feature space and Gumbel-top-k resampling. The published
data-selection method for pretraining mixes (SURVEY §2 training-data
extensions); complements the engine's CCNet-style LM-perplexity filter
(engine/ops/lm.py) with a distribution-MATCHING selector.

Spark-first shape:

  * features are hashed unigram+bigram counts over the pinned LM
    tokenizer (engine/ops/lm.py:lm_tokens — ONE token definition
    engine-wide): bucket ids come from xxhash64 inside whole-stage
    codegen, so featurization is a pure JVM column expression and the
    text never leaves the map side.
  * fitting is TWO model-sized aggs (explode bucket ids -> groupBy
    count, <= n_buckets rows each, map-side combinable); the model is
    one float per bucket (log p_target[b] - log p_raw[b]), Laplace-
    smoothed — small enough to ride in a UDF closure (driver work
    O(n_buckets), independent of N).
  * scoring is ONE map-only Arrow pass: the log-ratio vector in the
    closure, each batch's log-weights = one np.add.reduceat over the
    concatenated bucket arrays. Zero shuffle, zero corpus movement
    (plan-asserted in tests/test_dsir.py). A broadcast bucket->ratio
    join would need a corpus-sized groupBy(doc) to re-assemble — the
    closure path avoids that exchange entirely.
  * resampling is Gumbel-top-k (sampling WITHOUT replacement from the
    softmax of log-weights, Vieira 2014): key = logw/temperature + g
    where g is DETERMINISTIC hash-derived Gumbel noise — u from
    pmod(xxhash64(id, salt)) as in engine/ops/sample.py, g =
    -log(-log(u)) — so the selected set is reproducible across runs,
    partitionings, and cluster sizes with no RNG state. `orderBy +
    limit(k)` compiles to TakeOrderedAndProject (per-partition heap
    top-k; only ~k rows per task move), fine up to k ~ 10^6; for
    larger k use select_fraction-style thresholding: one
    percentile_approx pass picks the cutoff key, then a MAP-ONLY
    filter keeps ~k rows (count within approx-quantile error,
    disclosed) and nothing is globally sorted.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DoubleType

from engine.ops.lm import lm_tokens

DEFAULT_BUCKETS = 10_000  # the paper's hashed feature dimension
_DENOM = 1 << 30  # uniform-noise resolution (engine/ops/sample.py)


def token_col(text_col: str | Column) -> Column:
    """The pinned LM tokenizer, empty tokens screened."""
    return F.filter(lm_tokens(text_col), lambda t: t != F.lit(""))


def hashed_feature_col(
    toks: Column, n_buckets: int = DEFAULT_BUCKETS
) -> Column:
    """array<int> of feature-bucket ids: one entry per unigram AND per
    bigram, hashed into [0, n_buckets). Pure JVM (transform / xxhash64
    / pmod); empty token array yields an empty array.

    Structurally O(tokens) even when Catalyst INLINES a raw tokenize
    expression for `toks` (optimizer rewrites — e.g. a filter on a
    downstream UDF column pushed through the materializing projection —
    can substitute the expression per reference): the bigram pairs come
    from zip_with over two slices, which evaluate `toks` a constant
    number of times per row. The previous element_at-per-index
    formulation re-evaluated the whole tokenize per bigram ELEMENT
    under such inlining — an O(tokens^2) interpreted-eval blowup
    measured at 25x on dsir_select_fraction's filter. Still prefer a
    materialized token-array column (the lm.py:_position_grams
    discipline) to pay tokenization exactly once."""
    uni = F.transform(
        toks, lambda t: F.pmod(F.xxhash64(t), F.lit(n_buckets)).cast("int")
    )
    # bigram bucket hashes the PAIR (two xxhash64 args), not a joined
    # string — "a b","c" and "a","b c" cannot collide by construction
    bi = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.pmod(F.xxhash64(a, b), F.lit(n_buckets)).cast(
                "int"
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.concat(uni, bi)


def _bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int
) -> np.ndarray:
    """One model-sized agg: total occurrences per feature bucket over
    the whole frame (<= n_buckets result rows, map-side combinable)."""
    rows = (
        df.select(token_col(text_col).alias("_toks"))
        .select(
            F.explode(
                hashed_feature_col(F.col("_toks"), n_buckets)
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = np.zeros(n_buckets, dtype=np.float64)
    for r in rows:
        counts[r["b"]] = r["n"]
    return counts


def fit_dsir(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    smoothing: float = 1.0,
) -> dict:
    """Fit the importance model: log p̂_target[b] - log p̂_raw[b] per
    feature bucket, Laplace(smoothing)-smoothed so buckets unseen on
    either side stay finite. `raw` should be a (hash_sample'd) slice
    of the corpus at scale — the fit only needs distribution-level
    counts, not every row. Returns a plain-dict model (JSON-safe)."""
    if smoothing <= 0.0:
        raise ValueError("smoothing must be > 0 (unseen buckets)")
    ct = _bucket_counts(target, text_col, n_buckets) + smoothing
    cr = _bucket_counts(raw, text_col, n_buckets) + smoothing
    log_ratio = (np.log(ct) - math.log(ct.sum())) - (
        np.log(cr) - math.log(cr.sum())
    )
    return {
        "n_buckets": int(n_buckets),
        "smoothing": float(smoothing),
        "log_ratio": [float(v) for v in log_ratio],
    }


def dsir_logweights(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "dsir_logw",
) -> DataFrame:
    """docs + fitted model -> docs with a log-importance-weight column
    (sum of log_ratio over the doc's feature occurrences; 0.0 for
    empty docs). ONE map-only Arrow pass — the ratio vector rides in
    the closure; no join, no shuffle."""
    ratio = np.asarray(model["log_ratio"], dtype=np.float64)
    if len(ratio) != model["n_buckets"]:
        raise ValueError("model log_ratio length != n_buckets")

    @F.pandas_udf(DoubleType())
    def _logw(buckets: pd.Series) -> pd.Series:
        arrs = [np.asarray(a, dtype=np.int64) for a in buckets]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                           count=len(arrs))
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(arrs)))
        flat = np.concatenate([a for a in arrs if len(a)])
        vals = ratio[flat]
        # one reduceat over the batch; empty docs contribute 0.0
        out = np.zeros(len(arrs), dtype=np.float64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        nonempty = lens > 0
        out[nonempty] = np.add.reduceat(vals, starts[nonempty])
        return pd.Series(out)

    feat = hashed_feature_col(F.col("_dsir_toks"), model["n_buckets"])
    return (
        docs.withColumn("_dsir_toks", token_col(text_col))
        .withColumn(out_col, _logw(feat))
        .drop("_dsir_toks")
    )


def gumbel_key_col(
    logw_col: str | Column,
    id_col: str = "doc_id",
    temperature: float = 1.0,
    salt: str = "dsir",
) -> Column:
    """Gumbel-top-k resampling key: logw/T + Gumbel(0,1) noise derived
    from a hash of the row id — deterministic, partition-invariant,
    no RNG state. Top-k by this key == sampling k docs without
    replacement with P(doc) ∝ exp(logw/T) (Vieira 2014); T -> 0
    approaches hard top-k by weight, T = 1 is the paper's sampling."""
    if temperature <= 0.0:
        raise ValueError("temperature must be > 0")
    logw = F.col(logw_col) if isinstance(logw_col, str) else logw_col
    u = (
        F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), F.lit(_DENOM))
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_DENOM))  # u in (0,1): never log(0)
    return logw / F.lit(float(temperature)) - F.log(-F.log(u))


def dsir_select(
    docs: DataFrame,
    model: dict,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    temperature: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """Select k docs by Gumbel-top-k over DSIR importance weights.
    Exact-k path: orderBy(key desc).limit(k) — TakeOrderedAndProject,
    per-partition heaps, no global sort. For k beyond driver-merge
    comfort (~10^6), threshold via dsir_select_fraction instead."""
    scored = dsir_logweights(docs, model, text_col=text_col)
    key = gumbel_key_col(
        "dsir_logw", id_col=id_col, temperature=temperature, salt=salt
    )
    return (
        scored.withColumn("_dsir_key", key)
        .orderBy(F.desc("_dsir_key"), F.asc(id_col))
        .limit(k)
        .drop("_dsir_key")
    )


def dsir_select_fraction(
    docs: DataFrame,
    model: dict,
    fraction: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    temperature: float = 1.0,
    salt: str = "dsir",
    rel_err: float = 0.001,
) -> DataFrame:
    """Scale path for large k: ONE percentile_approx pass finds the
    (1 - fraction) quantile of the Gumbel key, then a MAP-ONLY filter
    keeps everything above it. Selected count is fraction*N within the
    approx-quantile relative error (disclosed; default 0.1%); nothing
    is sorted or collected beyond one scalar."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside (0, 1]")
    scored = dsir_logweights(docs, model, text_col=text_col)
    key = gumbel_key_col(
        "dsir_logw", id_col=id_col, temperature=temperature, salt=salt
    )
    scored = scored.withColumn("_dsir_key", key)
    if fraction >= 1.0:
        return scored.drop("_dsir_key")
    cut = scored.agg(
        F.percentile_approx(
            "_dsir_key", F.lit(1.0 - fraction), F.lit(int(1.0 / rel_err))
        ).alias("c")
    ).collect()[0]["c"]
    return scored.filter(F.col("_dsir_key") >= F.lit(cut)).drop("_dsir_key")
