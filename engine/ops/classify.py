"""Trainable quality classifier (CCNet-style, Wenzek et al. 2019 §4.4:
a linear model separating a trusted reference slice from the raw
corpus replaces hand-tuned thresholds) — logistic regression on the
engine's own quality_metrics features, trained with nothing but Spark
passes (SURVEY §2 training-data extensions).

Spark-first shape:

  * features are the JVM-side quality_metrics columns (or any numeric
    columns the caller names) — no tokenizer state, no vocabulary to
    ship; standardization stats come from ONE small agg.
  * each training iteration is ONE map-only mapInPandas pass over the
    localCheckpointed training frame: the current weights ride in the
    closure, each Arrow batch contributes a partial (n, sum_loss,
    grad_vec) row — d+1 floats per task, combined driver-side (the
    treeAggregate contract: driver work O(d * tasks), independent of
    corpus size). Full-batch gradient descent; deterministic up to
    partial-sum float addition order.
  * SCORING is a pure column expression — sigmoid(w.x + b) built from
    the standardized feature columns, whole-stage codegen, zero Python
    and zero shuffle (plan-asserted in tests/test_classify.py). A
    trained model is a dict of floats: trivially serializable, applied
    at 10^12 rows for the cost of a projection.

Labels for the CCNet recipe: 1 = trusted reference docs (a curated
slice, a wiki dump, a hand-kept sample), 0 = raw corpus sample;
`quality_classifier` wires that pairing end-to-end.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

PARTIAL_DDL = "n long, loss double, grad array<double>"


def _standardize_stats(df: DataFrame, feature_cols: list[str]) -> tuple:
    """One small agg: per-feature mean and (population) std; std 0
    (constant feature) is replaced by 1 so the feature contributes a
    constant 0 after centering instead of a divide-by-zero."""
    aggs = []
    for c in feature_cols:
        aggs += [
            F.avg(F.col(c).cast("double")).alias(f"_mu_{c}"),
            F.stddev_pop(F.col(c).cast("double")).alias(f"_sd_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    mu = np.array([row[f"_mu_{c}"] or 0.0 for c in feature_cols])
    sd = np.array(
        [
            (row[f"_sd_{c}"] if row[f"_sd_{c}"] else 1.0) or 1.0
            for c in feature_cols
        ]
    )
    sd[sd == 0.0] = 1.0
    return mu, sd


def _grad_fn(w: np.ndarray, b: float, mu: np.ndarray, sd: np.ndarray, cols):
    """mapInPandas: one partial (n, loss, grad[d+1]) row per batch —
    grad[:d] is d/dw, grad[d] is d/db, all UNnormalized sums."""

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = (pdf[list(cols)].to_numpy(dtype=np.float64) - mu) / sd
            y = pdf["_label"].to_numpy(dtype=np.float64)
            z = X @ w + b
            p = 1.0 / (1.0 + np.exp(-z))
            # log-loss with clamp (exact at float64 everywhere else)
            eps = 1e-12
            loss = -(
                y * np.log(np.maximum(p, eps))
                + (1 - y) * np.log(np.maximum(1 - p, eps))
            ).sum()
            r = p - y
            g = np.concatenate([X.T @ r, [r.sum()]])
            yield pd.DataFrame(
                [(len(pdf), float(loss), g.tolist())],
                columns=["n", "loss", "grad"],
            )

    return fn


def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    max_iter: int = 100,
    lr: float = 1.0,
    l2: float = 1e-4,
    tol: float = 1e-7,
    stats: dict | None = None,
) -> dict:
    """Full-batch logistic regression; returns the model as plain
    floats: {"w": [...], "b": float, "mu": [...], "sd": [...],
    "feature_cols": [...]}.

    Standardized features make lr=1.0 a safe default (the logistic
    Hessian is bounded by X'X/4n, and standardization bounds feature
    scale); convergence = mean-gradient L-inf below tol or max_iter.
    Each iteration is one map-only pass + a driver combine of
    (d+1)-sized partials — see module docstring."""
    d = len(feature_cols)
    if d == 0:
        raise ValueError("feature_cols must be non-empty")
    base = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("_label"),
    )
    mu, sd = _standardize_stats(base, feature_cols)
    train = base.localCheckpoint(eager=True)  # re-read every iteration
    n_total = train.count()
    if n_total == 0:
        raise ValueError("empty training frame")
    w = np.zeros(d)
    b = 0.0
    iters, gnorm, mean_loss = 0, float("inf"), float("nan")
    for i in range(max_iter):
        partials = train.mapInPandas(
            _grad_fn(w, b, mu, sd, feature_cols), PARTIAL_DDL
        ).collect()
        g = np.zeros(d + 1)
        loss = 0.0
        for r in partials:
            g += np.asarray(r["grad"], dtype=np.float64)
            loss += r["loss"]
        g /= n_total
        loss = loss / n_total + 0.5 * l2 * float(w @ w)
        g[:d] += l2 * w
        w -= lr * g[:d]
        b -= lr * g[d]
        iters, gnorm, mean_loss = i + 1, float(np.abs(g).max()), float(loss)
        if gnorm < tol:
            break
    if stats is not None:
        stats.update(iters=iters, grad_inf=gnorm, loss=mean_loss, n=n_total)
    return {
        "w": w.tolist(),
        "b": b,
        "mu": mu.tolist(),
        "sd": sd.tolist(),
        "feature_cols": list(feature_cols),
    }


def score_col(model: dict) -> Column:
    """sigmoid(w.x + b) as a PURE column expression over the model's
    feature columns — whole-stage codegen, no Python, no shuffle."""
    z = F.lit(float(model["b"]))
    for c, wi, mui, sdi in zip(
        model["feature_cols"], model["w"], model["mu"], model["sd"]
    ):
        z = z + F.lit(float(wi)) * (
            (F.col(c).cast("double") - F.lit(float(mui))) / F.lit(float(sdi))
        )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_logreg(
    df: DataFrame, model: dict, score_name: str = "quality_score"
) -> DataFrame:
    return df.withColumn(score_name, score_col(model))


def quality_classifier(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 100,
    stats: dict | None = None,
) -> dict:
    """CCNet recipe end-to-end: label `reference` docs 1 and `corpus`
    docs 0, compute the engine's quality_metrics features for both,
    train, and return the model (apply with score_logreg over a frame
    carrying the same metric columns — engine/ops/curate.curate and
    quality_metrics both produce them).

    The trained score reads as P(doc looks like the reference); filter
    or bucket on it instead of (or alongside) the hand-tuned rule
    thresholds."""
    from engine.ops.curate import quality_metrics

    feats = [
        "n_chars",
        "n_tokens",
        "mean_token_len",
        "space_ratio",
        "symbol_ratio",
        "stopword_ratio",
        "dup_line_frac",
        "dup_para_frac",
    ]
    pos = quality_metrics(reference, id_col=id_col, text_col=text_col).withColumn(
        "_y", F.lit(1)
    )
    neg = quality_metrics(corpus, id_col=id_col, text_col=text_col).withColumn(
        "_y", F.lit(0)
    )
    both = pos.unionByName(neg)
    return train_logreg(
        both, feats, label_col="_y", max_iter=max_iter, stats=stats
    )


# ------------------------------------------------------------------ #
# fastText-style hashed bag-of-ngrams classifier                      #
# ------------------------------------------------------------------ #
#
# The quality-filter shape the public LLM-corpus recipes actually use
# (Joulin et al. 2016 fastText; applied as the quality classifier in
# LLaMA, DCLM and RedPajama pipelines): logistic regression over
# HASHED unigram+bigram token features, mean-pooled per document. The
# metric-feature model above (CCNet) sees only token SHAPE; this one
# sees token IDENTITY, so it separates "looks like Wikipedia" from
# "looks like spam" even when both have prose-like shape metrics.
#
# Spark-first shape, same discipline as train_logreg: features are
# engine/ops/dsir.hashed_feature_col (pure JVM codegen — unigrams and
# bigrams hashed into n_buckets ids per doc, the tokenize paid once);
# the feature frame is localCheckpointed; each training iteration is
# ONE map-only mapInPandas pass where the weight vector rides in the
# closure and each TASK yields a single (n, loss, grad[n_buckets+1])
# partial (accumulated across its Arrow batches with np.bincount —
# driver combine is O(n_buckets * tasks), independent of corpus
# size). Scoring is one Arrow pass with the weights in the closure —
# no join, no shuffle, zero driver state per row.

HASHED_DEFAULT_BUCKETS = 1 << 15


def _hashed_grad_fn(w: np.ndarray, b: float, w_pos: float, w_neg: float):
    nb = len(w)

    def fn(batches):
        g = np.zeros(nb + 1, dtype=np.float64)
        loss, n = 0.0, 0
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf["_fb"]]
            lens = np.fromiter(
                (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
            )
            y = pdf["_label"].to_numpy(dtype=np.float64)
            wt = np.where(y > 0.5, w_pos, w_neg)
            nz = lens > 0
            inv = np.where(nz, 1.0 / np.maximum(lens, 1), 0.0)
            z = np.full(len(arrs), b, dtype=np.float64)
            if lens.sum():
                flat = np.concatenate([a for a in arrs if len(a)])
                starts = np.zeros(len(arrs), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                sums = np.zeros(len(arrs), dtype=np.float64)
                sums[nz] = np.add.reduceat(w[flat], starts[nz])
                z += sums * inv
            p = 1.0 / (1.0 + np.exp(-z))
            eps = 1e-12
            loss += -(
                wt
                * (
                    y * np.log(np.maximum(p, eps))
                    + (1 - y) * np.log(np.maximum(1 - p, eps))
                )
            ).sum()
            r = wt * (p - y)
            if lens.sum():
                per_occ = np.repeat(r * inv, lens)
                g[:nb] += np.bincount(flat, weights=per_occ, minlength=nb)
            g[nb] += r.sum()
            n += len(pdf)
        if n:
            yield pd.DataFrame(
                [(n, float(loss), g.tolist())], columns=["n", "loss", "grad"]
            )

    return fn


def train_hashed_logreg(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = HASHED_DEFAULT_BUCKETS,
    max_iter: int = 30,
    lr: float = 2.0,
    l2: float = 1e-6,
    tol: float = 1e-7,
    stats: dict | None = None,
) -> dict:
    """Full-batch logistic regression over mean-pooled hashed
    unigram+bigram features; returns {"kind": "hashed_logreg",
    "n_buckets", "w": [n_buckets floats], "b"} — a plain JSON-safe
    dict (the dsir.py model convention).

    Mean pooling bounds every feature in [0, 1] but also shrinks the
    per-bucket gradient by ~1/L (L = features per doc), so plain GD
    crawls. The weight step is therefore scaled by the corpus mean L
    (one tiny agg) — diagonal preconditioning for the known pooling
    structure; the bias keeps the unscaled step (its column is all
    ones). Train on a SAMPLE at scale (the model needs class
    contrast, not every row — engine/ops/sample.hash_sample)."""
    from engine.ops.dsir import hashed_feature_col, token_col

    base = df.select(
        hashed_feature_col(token_col(text_col), int(n_buckets)).alias("_fb"),
        F.col(label_col).cast("double").alias("_label"),
    )
    train = base.localCheckpoint(eager=True)
    n_total = train.count()
    if n_total == 0:
        raise ValueError("empty training frame")
    stats_row = train.agg(
        F.avg(F.size("_fb")).alias("ml"),
        F.sum(F.col("_label")).alias("npos"),
    ).collect()[0]
    w_step = lr * max(1.0, float(stats_row["ml"] or 1.0))
    # balanced class weights (each class contributes half the loss):
    # the negative side is usually a RATIO-sized corpus sample, and
    # without balancing the scores calibrate to that sampling prior —
    # an absolute score cut then means nothing. With balancing, 0.5
    # is the class boundary at any sampling ratio.
    n_pos = float(stats_row["npos"] or 0.0)
    n_neg = n_total - n_pos
    w_pos = n_total / (2.0 * n_pos) if n_pos else 0.0
    w_neg = n_total / (2.0 * n_neg) if n_neg else 0.0
    w = np.zeros(int(n_buckets))
    b = 0.0
    iters, gnorm, mean_loss = 0, float("inf"), float("nan")
    for i in range(max_iter):
        partials = train.mapInPandas(
            _hashed_grad_fn(w, b, w_pos, w_neg), PARTIAL_DDL
        ).collect()
        g = np.zeros(int(n_buckets) + 1)
        loss = 0.0
        for r in partials:
            g += np.asarray(r["grad"], dtype=np.float64)
            loss += r["loss"]
        g /= n_total
        loss = loss / n_total + 0.5 * l2 * float(w @ w)
        g[:-1] += l2 * w
        w -= w_step * g[:-1]
        b -= lr * g[-1]
        iters, gnorm, mean_loss = i + 1, float(np.abs(g).max()), float(loss)
        if gnorm < tol:
            break
    if stats is not None:
        stats.update(iters=iters, grad_inf=gnorm, loss=mean_loss, n=n_total)
    return {
        "kind": "hashed_logreg",
        "n_buckets": int(n_buckets),
        "w": w.tolist(),
        "b": float(b),
    }


def score_hashed(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    score_name: str = "quality_score",
) -> DataFrame:
    """Attach sigmoid(mean(w[bucket]) + b) — ONE map-only Arrow pass,
    weights in the closure (256 KB at the default 2^15 buckets: ships
    once per task like a broadcast), no join, no shuffle. Empty docs
    score sigmoid(b)."""
    from engine.ops.dsir import hashed_feature_col, token_col

    w = np.asarray(model["w"], dtype=np.float64)
    if len(w) != model["n_buckets"]:
        raise ValueError("model w length != n_buckets")
    b = float(model["b"])

    @F.pandas_udf("double")
    def _score(buckets: pd.Series) -> pd.Series:
        arrs = [np.asarray(a, dtype=np.int64) for a in buckets]
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        z = np.full(len(arrs), b, dtype=np.float64)
        nz = lens > 0
        if lens.sum():
            flat = np.concatenate([a for a in arrs if len(a)])
            starts = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sums = np.zeros(len(arrs), dtype=np.float64)
            sums[nz] = np.add.reduceat(w[flat], starts[nz])
            z += np.where(nz, sums / np.maximum(lens, 1), 0.0)
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    feat = hashed_feature_col(token_col(text_col), model["n_buckets"])
    return df.withColumn(score_name, _score(feat))


def fasttext_quality(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    n_buckets: int = HASHED_DEFAULT_BUCKETS,
    max_iter: int = 30,
    stats: dict | None = None,
) -> dict:
    """The DCLM/LLaMA pairing end-to-end: reference docs labeled 1,
    corpus docs 0, hashed-ngram model trained; apply with score_hashed
    over any frame carrying the text column."""
    pos = reference.select(F.col(text_col)).withColumn("_y", F.lit(1))
    neg = corpus.select(F.col(text_col)).withColumn("_y", F.lit(0))
    return train_hashed_logreg(
        pos.unionByName(neg),
        text_col=text_col,
        label_col="_y",
        n_buckets=n_buckets,
        max_iter=max_iter,
        stats=stats,
    )
