"""Quality-classifier filtering — the GPT-3/LLaMA curation step: a
linear classifier over hashed n-gram bag-of-words features scores every
document's "looks like the high-quality reference" log-odds, and the
corpus filters on the score (optionally with stochastic Pareto-style
acceptance, the GPT-3 trick that keeps a long tail of lower-scoring
documents instead of a hard cliff).

Public-knowledge provenance: GPT-3 (Brown et al. 2020, Appendix A)
filtered Common Crawl with a logistic-regression classifier trained on
WebText-vs-crawl; LLaMA (Touvron et al. 2023) used a fastText-style
linear classifier for the same purpose. Both are linear models over
sparse lexical features — exactly what hashed bag-of-words reproduces
portably.

Scale discipline (the 100 TB shape):
- FIT is driver-side logistic regression (plain numpy gradient
  descent) on a BOUNDED deterministic sample: one pass collects
  ``sample`` rows' hashed feature vectors (md5-u32 ordering, so the
  sample is stable across runs and engines), driver state is
  O(sample x n_buckets) with n_buckets ~ 2^10.
- SCORE is a pure projection: the weight vector inlines as a
  plan-literal array and each document folds its grams through
  ``element_at`` + ``aggregate`` — zero shuffles, zero UDFs, the same
  machinery as ``operators.dsir`` (whole-stage codegen absorbs it into
  the scan).
- FILTER composes the score with a deterministic hash-uniform
  acceptance (``keep if score > T or u < exp(score - T)``-style), so
  reruns and engines agree row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dsir import _check_ngrams, _grams
from .embedding import _token_u32


def _doc_buckets(
    df: DataFrame,
    text_col: str,
    sep: str,
    ngrams: tuple,
    n_buckets: int,
) -> DataFrame:
    """array<int> of hashed gram buckets per document (duplicates kept
    — term frequency matters to the classifier)."""
    parts = []
    for n in ngrams:
        grams = F.filter(
            _grams(F.col(text_col), sep, n), lambda g: g != ""
        )
        parts.append(
            F.transform(
                grams,
                lambda g: (_token_u32(g) % n_buckets).cast("int"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return df.withColumn("__qc_buckets", out)


def quality_classifier_fit(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    sep: str = " ",
    ngrams: tuple = (1,),
    n_buckets: int = 1024,
    sample: int = 4000,
    iters: int = 300,
    lr: float = 0.5,
    l2: float = 1e-3,
    id_col: str = "doc_id",
) -> dict:
    """Fit the linear quality model: logistic regression of
    ``label_col`` (boolean/0-1: 1 = high quality reference) on
    L2-normalized hashed gram counts.

    The training sample is the first ``sample`` rows by md5-u32 of the
    id — deterministic across runs, engines, and partitionings (the
    ``_driver_lloyd`` fit discipline). Features are collected as
    bucket-index arrays (O(tokens) per row, never a dense matrix on
    executors); densification happens driver-side on the bounded
    sample only. Returns ``{"w": [n_buckets floats], "b": float,
    "n_buckets": int, "ngrams": tuple, "sep": str}`` — the whole model
    is a broadcastable plan literal."""
    import numpy as np

    _check_ngrams(ngrams)
    feats = _doc_buckets(df, text_col, sep, ngrams, n_buckets)
    rows = (
        feats.select(
            F.col(label_col).cast("double").alias("__y"),
            "__qc_buckets",
            _token_u32(F.col(id_col).cast("string")).alias("__ord"),
        )
        .orderBy("__ord", F.col(id_col).cast("string"))
        .limit(int(sample))
        .collect()
    )
    if not rows:
        raise ValueError("quality_classifier_fit: empty corpus")
    X = np.zeros((len(rows), n_buckets))
    y = np.array([r["__y"] for r in rows])
    if len(set(y.tolist())) < 2:
        raise ValueError(
            "quality_classifier_fit needs both labels in the sample"
        )
    for i, r in enumerate(rows):
        for b in r["__qc_buckets"] or []:
            X[i, b] += 1.0
    norms = np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    X = X / norms
    w = np.zeros(n_buckets)
    b = 0.0
    n = float(len(rows))
    for _ in range(int(iters)):  # deterministic full-batch GD
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        g = p - y
        w -= lr * ((X.T @ g) / n + l2 * w)
        b -= lr * float(g.mean())
    return {
        "w": [float(x) for x in w],
        "b": float(b),
        "n_buckets": int(n_buckets),
        "ngrams": tuple(ngrams),
        "sep": sep,
    }


def _score_arrow(model: dict):
    """Arrow-batched scorer, bit-identical to the Catalyst fold path.

    Why (r14, guide §4.2): the in-plan path evaluates the gram->bucket
    pipeline TWICE per document (once under the weight fold, once under
    the norm fold - Catalyst's subexpression elimination excludes
    higher-order-function subtrees), and every token pays an md5 + hex
    conv each time. This UDF computes buckets ONCE per document, caches
    token->bucket across the task (Zipfian vocab makes the md5 cost
    ~O(distinct tokens)), and replays the exact same IEEE double
    arithmetic: per-n sequential left-folds of the bucket weights,
    per-n partials added in ngram order, integer run-length sum of
    squares, ``b + total / sqrt(max(ss, 1))``. Only the text column
    crosses the boundary.

    Restricted to ``sep == " "`` (the only sep used in-repo): Python
    ``str.split(" ")`` matches Java ``Pattern.split(" ", -1)`` exactly
    for a literal single space; other seps are regexes and take the
    Catalyst path."""
    import hashlib
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    w = [float(x) for x in model["w"]]
    bias = float(model["b"])
    nb = int(model["n_buckets"])
    ngrams = tuple(model["ngrams"])
    # Bounded memo (r15, ADVICE r14): a reused Python worker keeps the
    # deserialized closure alive across tasks, so an unbounded dict
    # would grow for the worker's lifetime (bigram keys especially).
    # Once full it stops ADMITTING - under a Zipfian vocab the head
    # tokens are seen (and admitted) first, so the hit rate stays high
    # while the footprint is capped at ~a few MB of short strings.
    cache: dict[str, int] = {}
    _CACHE_CAP = 1 << 16

    def _bucket(tok: str) -> int:
        v = cache.get(tok)
        if v is None:
            v = (
                int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
                % nb
            )
            if len(cache) < _CACHE_CAP:
                cache[tok] = v
        return v

    def _scores(texts):
        out = []
        for text in texts:
            if text is None:
                # split(NULL) -> NULL propagates through the folds
                out.append(None)
                continue
            toks = text.split(" ")
            total = None
            counts: dict[int, int] = {}
            for n in ngrams:
                if n == 1:
                    grams = toks
                else:
                    # replicate dsir._grams exactly: any n > 1 zips
                    # ADJACENT PAIRS (one-shifted slices), so the
                    # Catalyst and Arrow paths hash identical grams
                    grams = [
                        toks[i] + "\x1f" + toks[i + 1]
                        for i in range(len(toks) - 1)
                    ]
                s = 0.0  # the fold's F.lit(0.0) seed
                for g in grams:
                    if g == "":
                        continue
                    bk = _bucket(g)
                    s += w[bk]  # sequential left-fold, doc order
                    counts[bk] = counts.get(bk, 0) + 1
                total = s if total is None else total + s
            ss = 0
            for c in counts.values():
                ss += c * c  # exact ints < 2^53
            norm = math.sqrt(ss) if ss >= 1 else 1.0
            out.append(bias + total / norm)
        return pd.Series(out, dtype="object")

    _scores.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf("double")(_scores)


def quality_classifier_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "quality_score",
) -> DataFrame:
    """Append the per-document log-odds score the FITTED model assigns:
    each gram looks its bucket's weight up in the plan-literal table,
    the doc sums them, and the sum normalizes by the EXACT L2 norm of
    the hashed term-frequency vector - the same normalization the fit
    applied, so scores are the model's calibrated log-odds (a sqrt of
    the gram count would overweight repetitive documents by up to
    sqrt(k)). With the default single-space sep the scoring runs as an
    Arrow-batched projection (one gram pass per doc, token->bucket
    cached per task - see :func:`_score_arrow`; bit-identical folds,
    pytest-asserted); regex seps keep the pure-Catalyst fold: sort the
    bucket array and fold run lengths into a sum of squares. Either
    way a pure projection: no shuffle, absorbed by the scan at
    100 TB."""
    _check_ngrams(model["ngrams"])
    if model["sep"] == " ":
        return df.withColumn(
            out_col, _score_arrow(model)(F.col(text_col))
        )
    n_buckets = int(model["n_buckets"])
    table = F.array(*[F.lit(float(x)) for x in model["w"]])
    all_buckets = None
    total = None
    for n in model["ngrams"]:
        grams = F.filter(
            _grams(F.col(text_col), model["sep"], n), lambda g: g != ""
        )
        b = F.transform(
            grams, lambda g: (_token_u32(g) % n_buckets).cast("int")
        )
        s = F.aggregate(
            b,
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(table, i + 1),
        )
        total = s if total is None else total + s
        all_buckets = (
            b if all_buckets is None else F.concat(all_buckets, b)
        )
    # ||tf||_2^2 = sum over buckets of count^2: fold the SORTED bucket
    # array with (prev, run, sumsq) state - equal neighbors extend the
    # run, a new bucket flushes run^2
    srt = F.array_sort(all_buckets)
    state = F.aggregate(
        srt,
        F.struct(
            F.lit(-1).alias("prev"),
            F.lit(0.0).alias("run"),
            F.lit(0.0).alias("ss"),
        ),
        lambda st, i: F.struct(
            i.alias("prev"),
            F.when(i == st["prev"], st["run"] + 1.0)
            .otherwise(F.lit(1.0))
            .alias("run"),
            F.when(i == st["prev"], st["ss"])
            .otherwise(st["ss"] + st["run"] * st["run"])
            .alias("ss"),
        ),
        lambda st: st["ss"] + st["run"] * st["run"],
    )
    norm = F.sqrt(F.greatest(state, F.lit(1.0)))
    score = F.lit(float(model["b"])) + total / norm
    return df.withColumn(out_col, score)


def quality_filter(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    threshold: float = 0.0,
    pareto_alpha: float | None = None,
    id_col: str = "doc_id",
    seed: str = "qc",
) -> DataFrame:
    """Keep documents the classifier likes. ``pareto_alpha=None`` is a
    hard threshold on the log-odds score. With ``pareto_alpha`` set,
    GPT-3's stochastic acceptance keeps a sub-threshold document when
    ``u < exp(alpha * (score - threshold))`` — a soft cliff that
    retains a long tail of lower-scoring documents. ``u`` is the
    DETERMINISTIC hash-uniform of (seed, id): reproducible across
    runs, engines, and partitionings, no RNG state."""
    scored = quality_classifier_score(df, model, text_col=text_col)
    if pareto_alpha is None:
        return scored.filter(F.col("quality_score") > F.lit(threshold))
    u32 = _token_u32(
        F.concat_ws("\x1f", F.lit(seed), F.col(id_col).cast("string"))
    )
    u = (u32 + F.lit(0.5)) / F.lit(4294967296.0)
    accept = (F.col("quality_score") > F.lit(threshold)) | (
        u
        < F.exp(
            F.lit(float(pareto_alpha))
            * (F.col("quality_score") - F.lit(threshold))
        )
    )
    return scored.filter(accept)
