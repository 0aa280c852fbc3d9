"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Select raw-corpus documents that LOOK LIKE a target domain: fit hashed
n-gram bag-of-words distributions over the target and the raw corpus,
weight every raw document by its log importance ratio
``sum_grams log(p_target[bucket] / p_raw[bucket])``, and resample
proportionally (Gumbel-top-k without replacement, or deterministic
top-k).

Scale discipline (the 100 TB shape):
- Feature hashing uses the repo's portable md5 u32 (operators.embedding
  ``_token_u32``) so every SQL engine reproduces the buckets exactly.
- The FIT is two hash-aggregations (one per corpus) over exploded
  grams, collapsed to ``n_buckets`` rows — driver state is one
  array of ``n_buckets`` doubles, independent of corpus size.
- The WEIGHT pass is a pure projection: the log-ratio table is inlined
  as a plan-literal array, each document folds its grams through
  ``element_at`` + ``aggregate`` — zero shuffles, zero UDFs, whole-
  stage codegen.
- The SELECT is one TakeOrderedAndProject (top-k by Gumbel-perturbed
  or raw log weight) — never a global sort of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .embedding import _token_u32


def _grams(text: Column, sep: str, n: int) -> Column:
    """array<string> of n-grams over the sep-split tokens; bigrams join
    adjacent tokens with a char no tokenizer emits (\\x1f) so ("a b",
    "c") and ("a", "b c") hash apart."""
    toks = F.split(text, sep)
    if n == 1:
        return toks
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    return F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        shifted,
        lambda a, b: F.concat_ws("\x1f", a, b),
    )


def _check_ngrams(ngrams: tuple) -> None:
    """``_grams`` builds unigrams and adjacent pairs only; any other
    order would silently be counted as bigrams."""
    bad = [n for n in ngrams if n not in (1, 2)]
    if bad:
        raise ValueError(f"dsir ngrams must be 1 or 2, got {bad}")


def _bucket_counts(
    df: DataFrame, text_col: str, sep: str, ngrams: tuple, n_buckets: int
) -> dict[int, int]:
    """{bucket: count} over the corpus — one explode + hash-agg per
    requested gram order, n_buckets rows collected (bounded by
    construction, never corpus-sized)."""
    out: dict[int, int] = {}
    for n in ngrams:
        rows = (
            df.select(
                F.explode(_grams(F.col(text_col), sep, n)).alias("g")
            )
            .where(F.col("g") != "")
            .select((_token_u32(F.col("g")) % n_buckets).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        for r in rows:
            out[int(r["b"])] = out.get(int(r["b"]), 0) + int(r["count"])
    return out


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    sep: str = " ",
    ngrams: tuple = (1, 2),
    n_buckets: int = 10_000,
    smoothing: float = 1.0,
) -> list[float]:
    """Fit the per-bucket log importance ratios
    ``log((target_count[b] + s) / target_total) - log((raw_count[b] +
    s) / raw_total)`` with add-``smoothing`` regularization (unseen
    buckets pull toward 0 instead of exploding). Returns ``n_buckets``
    floats — the whole model, broadcastable as a plan literal."""
    import math

    _check_ngrams(ngrams)
    tc = _bucket_counts(target, text_col, sep, ngrams, n_buckets)
    rc = _bucket_counts(raw, text_col, sep, ngrams, n_buckets)
    t_total = sum(tc.values()) + smoothing * n_buckets
    r_total = sum(rc.values()) + smoothing * n_buckets
    return [
        math.log((tc.get(b, 0) + smoothing) / t_total)
        - math.log((rc.get(b, 0) + smoothing) / r_total)
        for b in range(n_buckets)
    ]


def _logw_arrow(log_ratios: list[float], ngrams: tuple):
    """Arrow-batched DSIR weigher, bit-identical to the Catalyst fold
    path (r15, guide §4.2 — the quality-classifier ``_score_arrow``
    pattern applied to dsir):

    - grams are hashed ONCE per document in Python instead of paying an
      interpreted md5 + hex-conv expression per gram inside the HOF
      fold;
    - the token->bucket memo amortizes the md5 over a Zipfian vocab
      (~O(distinct grams) hashing per task), bounded so a reused Python
      worker can't grow it forever (ADVICE r14 on the classifier memo);
    - the arithmetic replays the exact fold: per-n sequential left-fold
      of ``table[bucket]`` in document order seeded 0.0, per-n partials
      added in ngram order, NULL text -> NULL. Only the text column
      crosses the boundary.

    Restricted to ``sep == " "``: Python ``str.split(" ")`` matches Java
    ``Pattern.split(" ", -1)`` exactly for a literal single space; regex
    seps keep the Catalyst path."""
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    table = [float(x) for x in log_ratios]
    nb = len(table)
    orders = tuple(ngrams)
    cache: dict[str, int] = {}
    _CACHE_CAP = 1 << 16

    def _bucket(g: str) -> int:
        v = cache.get(g)
        if v is None:
            v = (
                int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)
                % nb
            )
            if len(cache) < _CACHE_CAP:
                cache[g] = v
        return v

    def _weights(texts):
        out = []
        for text in texts:
            if text is None:
                # split(NULL) -> NULL propagates through the folds
                out.append(None)
                continue
            toks = text.split(" ")
            total = None
            for n in orders:
                if n == 1:
                    grams = toks
                else:
                    # replicate _grams exactly: n > 1 zips ADJACENT
                    # PAIRS (one-shifted slices) joined by \x1f
                    grams = [
                        toks[i] + "\x1f" + toks[i + 1]
                        for i in range(len(toks) - 1)
                    ]
                s = 0.0  # the fold's F.lit(0.0) seed
                for g in grams:
                    if g == "":
                        continue
                    s += table[_bucket(g)]  # sequential left-fold
                total = s if total is None else total + s
            out.append(total)
        return pd.Series(out, dtype="object")

    _weights.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf("double")(_weights)


def dsir_logweights(
    df: DataFrame,
    log_ratios: list[float],
    text_col: str = "text",
    sep: str = " ",
    ngrams: tuple = (1, 2),
    out_col: str = "dsir_logw",
) -> DataFrame:
    """Append the per-document log importance weight: each gram looks
    its bucket's log-ratio up in the plan-literal table and the doc
    sums them. With the default single-space sep the pass runs as one
    Arrow-batched projection (grams hashed once per doc, md5 memoized
    per task — see :func:`_logw_arrow`; bit-identical folds,
    pytest-asserted), so ``dsir_select``'s ordering is unchanged; regex
    seps keep the plan-literal Catalyst fold. Either way a pure
    projection — no shuffle; at 100 TB this is a map-only pass the scan
    absorbs."""
    _check_ngrams(ngrams)
    if sep == " ":
        return df.withColumn(
            out_col, _logw_arrow(log_ratios, ngrams)(F.col(text_col))
        )
    n_buckets = len(log_ratios)
    table = F.array(*[F.lit(float(x)) for x in log_ratios])
    total = None
    for n in ngrams:
        grams = F.filter(
            _grams(F.col(text_col), sep, n), lambda g: g != ""
        )
        s = F.aggregate(
            grams,
            F.lit(0.0),
            lambda acc, g: acc
            + F.element_at(table, (_token_u32(g) % n_buckets + 1).cast("int")),
        )
        total = s if total is None else total + s
    return df.withColumn(out_col, total)


def dsir_select(
    df: DataFrame,
    log_ratios: list[float],
    k: int,
    text_col: str = "text",
    sep: str = " ",
    ngrams: tuple = (1, 2),
    id_col: str = "doc_id",
    gumbel: bool = False,
    seed: str = "dsir",
) -> DataFrame:
    """The resampling step: keep ``k`` documents. ``gumbel=False``
    (default) takes the top-k by log weight — deterministic, the
    judgeable form. ``gumbel=True`` is the paper's sampling-without-
    replacement: perturb each log weight with a Gumbel draw derived
    from the DETERMINISTIC hash-uniform of (seed, id) — reproducible
    across runs and engines, no RNG state — and take the top-k of the
    perturbed keys (Gumbel-top-k == sampling w/o replacement with
    probabilities proportional to the softmax of the weights)."""
    w = dsir_logweights(
        df, log_ratios, text_col=text_col, sep=sep, ngrams=ngrams
    )
    key = F.col("dsir_logw")
    if gumbel:
        u32 = _token_u32(
            F.concat_ws("\x1f", F.lit(seed), F.col(id_col).cast("string"))
        )
        # uniform in (0,1) from the 32-bit hash; Gumbel = -log(-log u)
        u = (u32 + F.lit(0.5)) / F.lit(4294967296.0)
        key = key + (-F.log(-F.log(u)))
    return w.orderBy(F.desc(key), F.asc(id_col)).limit(k)
