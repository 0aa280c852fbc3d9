"""Deduplication operators (J1 + X1/X2 family).

J1 - the reference's only join: remove incoming rows whose key already
exists in the committed table (``/root/reference/lakehouse_pipeline.py:
204-227``: project existing keys -> unique -> is_in -> invert -> filter).
Spark form: a left anti-join, with no unique step (an anti-join's output
does not depend on how often a key repeats). Catalyst picks
broadcast-hash-anti when the key set is small and shuffled-hash/SMJ at
scale; either way the key projection is pushed into the table scan.

Reference semantics preserved exactly (SURVEY.md §2.3 note + §7.4):
- dedup is only *against committed data* - intra-batch duplicates all
  append (two identical rows in one file both land);
- an empty target short-circuits (``:210-211``);
- any failure scanning the target degrades to no-dedup (``:225-227``),
  logged as a warning naming the table.

X1/X2 - the scale generalizations a training-data pipeline needs:
exact content-hash dedup, MinHash/LSH near-dedup, SimHash fingerprints.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..table import LakehouseTable

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# J1: dedup against a committed table
# ---------------------------------------------------------------------------


def dedup_against_table(
    new_df: DataFrame, table: LakehouseTable, key: str = "DateTime", bounds=None
) -> DataFrame:
    """The reference's ingest dedup, Spark-first.

    Anti-join against the *projected* key column of the table - the
    reference's ``scan(selected_fields=(key,)) -> unique -> anti``
    pipeline (``lakehouse_pipeline.py:206-217``), distributed and
    range-pruned, without the unique step: a left anti join keeps a row
    iff its key matches NO build-side key, so how often a key repeats
    on the build side cannot change the result (and NULL keys match
    nothing either way); a ``distinct`` would only add a shuffle job:

    - the incoming batch's [min, max] key range prunes the committed-key
      scan to overlapping files via manifest stats - for append-mostly
      time-series, a new tick batch only touches the most recent files,
      so the scan cost stays O(recent), not O(history). ``bounds`` passes
      that ``(min, max)`` in when the caller already aggregated the batch
      (the ingest quality pass does); without it one tiny agg computes it;
    - column pruning reaches the parquet footers (key column only);
    - the anti-join broadcasts the key set when small, shuffles when not.
    """
    try:
        snap = table.snapshot()
        if snap.total_rows == 0:  # empty-target short-circuit (:210-211)
            return new_df
        from ..table import _range_keep

        if bounds is None:
            bounds = new_df.agg(F.min(key), F.max(key)).collect()[0]
        lo, hi = bounds
        if lo is None:  # all-null keys: nothing can match committed keys
            return new_df
        # transform-aware pruning (partition values + min/max stats): on a
        # years(DateTime) tick table a new batch prunes to the partitions
        # it touches even for files with no usable stats
        part = next((p for p in snap.partition_spec if p.source == key), None)
        keep = _range_keep(key, lo, hi, part, None)
        existing_keys = table.scan(selected_fields=[key], file_filter=keep)
        return new_df.join(existing_keys, on=key, how="left_anti")
    except Exception:
        # graceful degradation: dedup skipped, all rows pass (:225-227);
        # logged, since every row of the batch will append
        _log.warning(
            "dedup against %s failed; all incoming rows pass",
            table.location,
            exc_info=True,
        )
        return new_df


def dedup_intra_batch(df: DataFrame, keys: list[str]) -> DataFrame:
    """STRICT-mode extension (NOT reference behavior - documented §2.3):
    also drop duplicates within the incoming batch, keeping an arbitrary
    single row per key (Spark's dropDuplicates)."""
    return df.dropDuplicates(keys)


# ---------------------------------------------------------------------------
# X1: exact content-hash dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Keep one row per distinct content value (hash-groupBy).

    Uses a window row_number over sha2(content) so the *entire row* of the
    keeper survives (a pure groupBy would lose the other columns). One
    shuffle on the hash; at 100 TB the 256-bit key distributes evenly."""
    order = F.asc(id_col) if keep == "min" else F.desc(id_col)
    w = Window.partitionBy(F.sha2(F.col(content_col), 256)).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Exact token-set Jaccard (the ground-truth near-dup pass)
# ---------------------------------------------------------------------------


def exact_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    max_bitmap_vocab: int = 4096,
    max_size_band: int = 256,
) -> DataFrame:
    """All id pairs with token-set jaccard >= threshold, exactly.

    Physical strategy (chosen by vocabulary size):

    - **Bitmap path** (vocab <= max_bitmap_vocab): assign each distinct
      token an id, pack every document's token set into ceil(V/64) longs,
      group identical masks, and score candidate set pairs with
      ``bit_count(a & b)`` - O(V/64) per pair instead of the per-call
      hash-set cost of ``array_intersect`` (measured 38s -> ~2s on 1.4M
      pairs at sf0.1).
    - **Array path** (large vocab): sorted-array ``array_intersect``
      scoring. Corpora where even this is too big should use
      ``minhash_near_duplicates`` and accept approximate recall.

    Both paths share the size-band candidate pruning: jaccard >= t forces
    ``|n_a - n_b| <= (1/t - 1) * max_n``, which turns the band into an
    *equality* join on expanded size keys (hash join, not BNLJ).

    Pairs inside one identical-set group short-circuit to jaccard 1.0.
    """
    sets = df.select(
        F.col(id_col).alias("__id"),
        F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))).alias("toks"),
    )
    # NOT cached (r14): materializing the exploded (id, token) pairs is
    # the guide-§5 anti-pattern - the exploded corpus is the LARGEST
    # table in this query, and the deserialized cache write cost more
    # than the two cheap passes it saved (measured 6.0s -> 1.9s warm at
    # sf0.1 removing it; tokenize+explode itself is 0.1s). The vocab
    # probe and the mask build each re-tokenize: two streaming passes,
    # zero materialized state.
    toks = sets.select("__id", F.explode("toks").alias("tok"))
    # one bounded pass decides the strategy AND materializes the
    # dictionary: collect at most max+1 distinct tokens (the dictionary
    # is driver-sized by definition of the bitmap path)
    vocab_rows = toks.select("tok").distinct().limit(max_bitmap_vocab + 1).collect()
    vocab_size = len(vocab_rows)

    if vocab_size <= max_bitmap_vocab:
        n_words = (vocab_size + 63) // 64
        tok2id = {r["tok"]: i for i, r in enumerate(sorted(vocab_rows))}
        if vocab_size <= 256:
            # tiny dictionary: a literal-map lookup beats the extra
            # broadcast-build job
            id_map = F.create_map(
                *[x for tok, i in tok2id.items() for x in (F.lit(tok), F.lit(i))]
            )
            with_tid = toks.withColumn("tid", id_map[F.col("tok")])
        else:
            # large dictionary: Catalyst's GetMapValue on a literal map
            # is a LINEAR scan per lookup (O(V) string compares per
            # token row); a broadcast hash join probes in O(1)
            dict_df = df.sparkSession.createDataFrame(
                list(tok2id.items()), "tok string, tid int"
            )
            with_tid = toks.join(F.broadcast(dict_df), "tok").select(
                "__id", "tid"
            )
        masks = (
            with_tid.groupBy("__id")
            .agg(
                *[
                    F.bit_or(
                        F.when(
                            (F.col("tid") / 64).cast("int") == w,
                            F.expr(
                                "shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT))"
                            ),
                        ).otherwise(F.lit(0).cast("long"))
                    ).alias(f"m{w}")
                    for w in range(n_words)
                ]
            )
        )
        mcols = [f"m{w}" for w in range(n_words)]
        groups = (
            masks.groupBy(*mcols)
            .agg(F.collect_list("__id").alias("ids"))
            .withColumn(
                "n_toks",
                sum(F.bit_count(F.col(c)) for c in mcols).cast("int"),
            )
            .withColumn("gid", F.array_min("ids"))
            .cache()
        )
        n_common = lambda: sum(  # noqa: E731
            F.bit_count(F.col(f"ga.m{w}").bitwiseAND(F.col(f"gb.m{w}")))
            for w in range(n_words)
        ).cast("int")
    else:
        groups = (
            sets.groupBy("toks")
            .agg(F.collect_list("__id").alias("ids"))
            .withColumn("n_toks", F.size("toks"))
            .withColumn("gid", F.array_min("ids"))
            .cache()
        )
        n_common = lambda: F.size(  # noqa: E731
            F.array_intersect(F.col("ga.toks"), F.col("gb.toks"))
        )

    # identical-set pairs: jaccard exactly 1.0
    pair = F.filter(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x: F.transform(
                    F.col("ids"), lambda y: F.struct(x.alias("x"), y.alias("y"))
                ),
            )
        ),
        lambda p: p.x < p.y,
    )
    intra = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode(pair).alias("p"))
        .select(
            F.col("p.x").alias("id_a"),
            F.col("p.y").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # Per-row size band (the exact Jaccard bound): jaccard(a,b) >= t
    # forces t*n_b <= n_a <= n_b/t, so each group expands to size keys
    # [ceil(t*n), floor(n/t)] - tighter than the historical global
    # (1/t-1)*max_n band at mixed document lengths, and it removes the
    # driver round-trip that computed max_n (one fewer Spark job per
    # call). Candidate over-generation is harmless (the exact jaccard
    # filter below is the correctness gate); candidate UNDER-generation
    # is impossible because the bound is exact.
    #
    # The quadratic-plan guard moves into the plan itself: a band wider
    # than max_size_band keys raises AT EXECUTION via raise_error -
    # loose thresholds on long documents must use
    # minhash_near_duplicates (banded LSH, no size expansion) instead of
    # silently exploding the group table toward all-pairs.
    lo = F.ceil(F.col("n_toks") * threshold).cast("long")
    hi = F.floor(F.col("n_toks") / threshold).cast("long")
    guard = F.when(
        hi - lo + 1 > max_size_band,
        F.raise_error(
            F.concat(
                F.lit(
                    "exact_jaccard_pairs size band exceeds "
                    f"max_size_band={max_size_band} keys/group at "
                    f"threshold={threshold} (token-set size "
                ),
                F.col("n_toks").cast("string"),
                F.lit(
                    "): the expanded equality join would approach "
                    "all-pairs cost. Raise the threshold, raise "
                    "max_size_band explicitly, or use "
                    "minhash_near_duplicates for loose-threshold "
                    "near-dup at scale."
                ),
            )
        ).cast("long"),
    ).otherwise(lo)
    ga = groups.alias("ga")
    gb = groups.withColumn(
        "size_key", F.explode(F.sequence(guard, hi))
    ).alias("gb")
    cross = (
        ga.join(
            gb,
            (F.col("ga.n_toks") == F.col("gb.size_key"))
            & (F.col("ga.gid") < F.col("gb.gid")),
        )
        .withColumn("n_common", n_common())
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("ga.n_toks") + F.col("gb.n_toks") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.explode(F.col("ga.ids")).alias("id_x"), F.col("gb.ids").alias("ids_b"), "jaccard")
        .select("id_x", F.explode("ids_b").alias("id_y"), "jaccard")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionAll(cross)


# ---------------------------------------------------------------------------
# X2: MinHash / LSH near-duplicate detection
# ---------------------------------------------------------------------------

# Permutation arithmetic stays under 2^62 (no int64 overflow):
# h in [0, 2^31), coefficients in [0, 2^31), product < 2^62.
_MERSENNE = (1 << 31) - 1


def _token_array(text: Column, shingle_len: int) -> Column:
    toks = F.split(text, " ")
    if shingle_len <= 1:
        return F.array_distinct(toks)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - F.lit(shingle_len))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(shingle_len)]
            ),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 128,
    shingle_len: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature as array<bigint> of length n_hashes.

    Each permutation h_i(x) = (a_i * xxhash64(x) + b_i) mod p; the min
    over the doc's shingle set approximates set identity. All arithmetic
    happens in JVM expressions over the exploded-then-reaggregated
    shingles - no Python UDF, fully codegen'd."""
    import random

    rng = random.Random(seed)
    coefs = [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(n_hashes)]

    shingles = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_token_array(F.col(text_col), shingle_len)).alias("__sh"),
    ).withColumn("__h", F.abs(F.xxhash64(F.col("__sh"))) % _MERSENNE)

    mins = shingles.groupBy("__id").agg(
        *[
            F.min((F.col("__h") * F.lit(a) + F.lit(b)) % _MERSENNE).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coefs)
        ]
    )
    return mins.select(
        F.col("__id").alias(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("minhash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_bands: int = 32,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: hash each band of the signature; docs sharing any band
    bucket become candidate pairs.

    The band-bucket equi-join is the only shuffle; bucket sizes stay
    small because a 4-row band at jaccard<0.5 rarely collides
    (P(collide) = j^rows_per_band per band). Callers should cache
    ``signatures`` - it feeds both sides of the self-join. (A
    groupBy-bucket + intra-bucket pair-expansion variant was tried and
    regressed 2.7x at sf0.1: building the quadratic pair array per
    bucket in a higher-order transform costs far more than the
    sort-merge join on compact (band, bucket) keys.)

    ``max_bucket_size`` is the skew guard for web-scale corpora: a
    band bucket shared by boilerplate (license headers, navigation
    chrome) can hold millions of documents, turning the self-join
    quadratic on that one key. Buckets larger than the cap are dropped
    BEFORE the join (one map-side-combining groupBy + equi-join, no
    window over the hot key - the q5r ``max_docs_per_window``
    precedent), bounding worst-case candidates per bucket at cap^2. A
    true near-duplicate cluster bigger than the cap still surfaces
    through its OTHER bands (boilerplate shares one band's tokens;
    near-identical documents collide in most of the 32), so recall
    degrades gracefully while the worst case becomes bounded.

    DECISION (r10, closing the r6 perf-watch): ``None`` stays the
    default. (1) The default path keeps the documented exact-banding
    semantics - every registered near-dup query is judged against an
    exact SQL oracle, and a default cap would silently drop candidate
    pairs; (2) the right cap is corpus-relative (what counts as a
    boilerplate-sized bucket on a web crawl is three orders of
    magnitude above a curated corpus), so any universal number would
    be wrong for most callers; (3) moderate skew is already absorbed
    without recall loss by AQE's skew-join split on the band-bucket
    join. Corpus-scale callers doing 100 TB web dedup should pass an
    explicit cap (~1000) - that is a tuning decision the caller owns,
    not a silent default."""
    # ONE banding definition corpus-wide (minhash_band_rows): the r11
    # streaming sidecar PERSISTS these band rows, so every consumer
    # must band byte-identically or stored corpus bands silently stop
    # colliding with fresh ones
    exploded = minhash_band_rows(
        signatures, id_col, n_bands, rows_per_band
    ).select(
        F.col(id_col).alias("__id"),
        "band",
        F.col("bkt").alias("bucket"),
    )
    if max_bucket_size is not None:
        keep = (
            exploded.groupBy("band", "bucket")
            .agg(F.count("*").alias("__bs"))
            .filter(F.col("__bs") <= max_bucket_size)
            .drop("__bs")
        )
        exploded = exploded.join(keep, on=["band", "bucket"])
    a, b_ = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_hashes: int = 128,
    n_bands: int = 32,
    shingle_len: int = 1,
    seed: int = 42,
    max_bitmap_vocab: int = 4096,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dedup: signatures -> banded candidates ->
    EXACT jaccard verification of candidates only.

    ``max_bucket_size`` forwards to :func:`lsh_candidate_pairs` - the
    boilerplate skew guard that drops band buckets larger than the cap
    before the candidate self-join (None keeps full recall).

    Precision is exact (every output pair passes the true-jaccard filter);
    recall depends on banding - with 32 bands x 4 rows, a 0.95-jaccard
    pair is missed with probability (1-0.95^4)^32 ~= 3e-3.

    Scale structure (same skeleton as ``exact_jaccard_pairs``, with LSH
    replacing the size-band as the candidate generator):

    1. collapse documents to DISTINCT token sets - signatures, banding
       and verification all run per *set*, so duplicate-heavy corpora
       (the common case worth dedup'ing!) shrink the working set before
       any quadratic step (5000 docs -> 3935 sets at sf0.1);
    2. identical-set doc pairs short-circuit to jaccard 1.0 (no LSH
       needed - identical signatures always collide anyway);
    3. cross-set candidates from LSH banding verify via packed-bitmap
       ``bit_count`` when the token dictionary is bounded, falling back
       to ``array_intersect`` otherwise (the array path cost 152s at
       sf0.1 on this corpus; bitmaps bring the whole query to ~7s)."""
    rows_per_band = n_hashes // n_bands

    sets = df.select(
        F.col(id_col).alias("__id"),
        F.array_sort(_token_array(F.col(text_col), shingle_len)).alias("toks"),
    )
    groups = (
        sets.groupBy("toks")
        .agg(F.collect_list("__id").alias("ids"))
        .withColumn("gid", F.array_min("ids"))
        .withColumn("n_toks", F.size("toks"))
        .cache()
    )

    # identical-set pairs: jaccard exactly 1.0
    pair = F.filter(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x: F.transform(
                    F.col("ids"), lambda y: F.struct(x.alias("x"), y.alias("y"))
                ),
            )
        ),
        lambda p: p.x < p.y,
    )
    intra = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode(pair).alias("p"))
        .select(
            F.col("p.x").alias("id_a"),
            F.col("p.y").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # MinHash signatures per distinct set
    import random

    rng = random.Random(seed)
    coefs = [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(n_hashes)
    ]
    shingles = groups.select("gid", F.explode("toks").alias("__sh")).withColumn(
        "__h", F.abs(F.xxhash64(F.col("__sh"))) % _MERSENNE
    )
    sigs = shingles.groupBy("gid").agg(
        *[
            F.min((F.col("__h") * F.lit(a) + F.lit(b)) % _MERSENNE).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coefs)
        ]
    ).select(
        "gid", F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("minhash")
    ).cache()  # feeds both sides of the LSH self-join; O(#distinct sets) rows
    cands = lsh_candidate_pairs(
        sigs, "gid", n_bands, rows_per_band, max_bucket_size=max_bucket_size
    )

    # exact verification of candidate SET pairs
    toks_all = groups.select("gid", F.explode("toks").alias("tok"))
    vocab_rows = (
        toks_all.select("tok").distinct().limit(max_bitmap_vocab + 1).collect()
    )
    if len(vocab_rows) <= max_bitmap_vocab:
        n_words = (len(vocab_rows) + 63) // 64
        tok2id = {r["tok"]: i for i, r in enumerate(sorted(vocab_rows))}
        id_map = F.create_map(
            *[x for tok, i in tok2id.items() for x in (F.lit(tok), F.lit(i))]
        )
        masks = (
            toks_all.withColumn("tid", id_map[F.col("tok")])
            .groupBy("gid")
            .agg(
                *[
                    F.bit_or(
                        F.when(
                            (F.col("tid") / 64).cast("int") == w,
                            F.expr(
                                "shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT))"
                            ),
                        ).otherwise(F.lit(0).cast("long"))
                    ).alias(f"m{w}")
                    for w in range(n_words)
                ]
            )
        )
        # Cached: read for BOTH sides of the candidate-verify join below;
        # without the cache the mask aggregation over every exploded token
        # runs twice. Size is O(#distinct sets), not corpus size.
        side = masks.join(groups.select("gid", "ids", "n_toks"), "gid").cache()
        a = side.select(
            F.col("gid").alias("gid_a"),
            F.col("ids").alias("ids_a"),
            F.col("n_toks").alias("n_a"),
            *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)],
        )
        b = side.select(
            F.col("gid").alias("gid_b"),
            F.col("ids").alias("ids_b"),
            F.col("n_toks").alias("n_b"),
            *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)],
        )
        joined = (
            cands.join(a, cands.id_a == F.col("gid_a"))
            .join(b, cands.id_b == F.col("gid_b"))
            .withColumn(
                "n_common",
                sum(
                    F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
                    for w in range(n_words)
                ).cast("int"),
            )
        )
    else:
        side = groups.select("gid", "ids", "toks", "n_toks")
        a = side.select(
            F.col("gid").alias("gid_a"),
            F.col("ids").alias("ids_a"),
            F.col("toks").alias("toks_a"),
            F.col("n_toks").alias("n_a"),
        )
        b = side.select(
            F.col("gid").alias("gid_b"),
            F.col("ids").alias("ids_b"),
            F.col("toks").alias("toks_b"),
            F.col("n_toks").alias("n_b"),
        )
        joined = (
            cands.join(a, cands.id_a == F.col("gid_a"))
            .join(b, cands.id_b == F.col("gid_b"))
            .withColumn("n_common", F.size(F.array_intersect("toks_a", "toks_b")))
        )

    verified = joined.withColumn(
        "jaccard",
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
    ).filter(F.col("jaccard") >= threshold)

    cross = (
        verified.select(F.explode("ids_a").alias("id_x"), "ids_b", "jaccard")
        .select("id_x", F.explode("ids_b").alias("id_y"), "jaccard")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionAll(cross)


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: sign-sum of per-token hash bits.

    Computed entirely with integer expressions: explode tokens, derive
    each bit's +-1 contribution from xxhash64(token), sum per (doc, bit),
    reassemble the fingerprint. Near-dup candidates are then rows whose
    fingerprints differ in few bits (hamming distance via xor+popcount).
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).withColumn("__h", F.xxhash64("__tok"))
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    sums = toks.groupBy("__id").agg(*bit_cols)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return sums.select(F.col("__id").alias(id_col), fp.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of xor - bit_count is a built-in (JVM, codegen)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup: block on 16-bit fingerprint quadrants (a pair
    within hamming<=3 of 64 bits must share at least one of 4 quadrants -
    pigeonhole), then verify hamming distance within blocks."""
    fps = simhash(df, text_col, id_col).cache()
    quads = fps.select(
        F.col(id_col).alias("__id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("simhash"), q * 16)
                        .bitwiseAND(F.lit((1 << 16) - 1))
                        .alias("quad"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("qq"),
    ).select("__id", "simhash", F.col("qq.q").alias("q"), F.col("qq.quad").alias("quad"))
    a, b = quads.alias("a"), quads.alias("b")
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.quad") == F.col("b.quad"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Near-dup clusters: pairs -> connected components -> keeper selection
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation over the near-dup pair graph: every node
    ends up labeled with the smallest id reachable from it. Returns
    (id, cluster) for ALL nodes (singletons label themselves).

    This is the step a real dedup pipeline needs between "similar pairs"
    and "rows to keep": near-duplication is transitive in practice (A~B,
    B~C => drop two of three), so keeper selection must run per
    component, not per pair.

    Plan shape: each iteration is one hash join (edges x labels) + one
    min-agg - O(diameter) rounds, each a single shuffle. Label state
    lives in a DataFrame, checkpoint-free; near-dup graphs have tiny
    diameters (dense clusters), so 3-5 rounds converge. The driver-side
    loop only checks a convergence count."""
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ).localCheckpoint()
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .cache()
    )
    for _ in range(max_iter):
        # 1-hop: min over neighbors' labels
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "label")
        )
        # pointer jump: label of my label (path halving -> O(log n) rounds
        # even on long similarity chains)
        lab2 = labels.select(F.col("id").alias("jid"), F.col("label").alias("jlabel"))
        jumped = (
            labels.join(lab2, labels.label == F.col("jid"))
            .select("id", F.col("jlabel").alias("label"))
        )
        new_labels = (
            labels.unionAll(neigh)
            .unionAll(jumped)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            # truncate lineage: without this, each round's plan embeds all
            # previous rounds and planning time grows superlinearly
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("cluster"))


def dedup_keepers(
    pairs: DataFrame, nodes: DataFrame, id_col: str, max_iter: int = 20
) -> DataFrame:
    """(id, cluster, is_keeper): keep exactly the min-id row per
    near-dup component - the end-to-end X2 contract."""
    cc = connected_components(pairs, nodes, id_col, max_iter)
    return cc.select(
        "id", "cluster", (F.col("id") == F.col("cluster")).alias("is_keeper")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster-blocked embedding-cosine near-dups
# ---------------------------------------------------------------------------


def semantic_duplicates(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    distance: str = "l2_expanded",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): find semantic near-duplicates by
    clustering embeddings and scoring cosine similarity only WITHIN each
    cluster. Returns (id_a, id_b, cluster_id, sim) for pairs with
    ``sim >= threshold`` (sim rounded to 9 dp for cross-engine parity).

    Scale shape: assignment is a zero-shuffle plan-literal argmin
    (``assign_clusters``); the pair generation is an equality self-join
    on cluster_id — with K well-sized clusters the work drops from n²
    to ~n²/K, and each cluster's pairs build inside one shuffle
    partition. The assigned table is cached because it feeds BOTH sides
    of the self-join (the q48 LSH lesson). By construction, pairs whose
    members land in different clusters are invisible — the documented
    SemDeDup trade-off (raise K for speed, lower K for recall)."""
    from .similarity import dot, norm
    from .clustering import assign_clusters

    # per-row norm computed ONCE and cached with the vector (r15 hoist,
    # the q50/q52 pattern): the ~n^2/K pair scoring below then runs one
    # HOF dot per pair instead of three - identical IEEE doubles, so the
    # 9-dp-rounded sims are unchanged
    assigned = assign_clusters(
        df.select(id_col, vec_col), centroids, vec_col=vec_col,
        distance=distance,
    ).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        "cluster_id",
    ).withColumn("__n", norm(F.col("__v")))
    assigned.cache()
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "cluster_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "cluster_id",
    )
    return (
        a.join(b, ["cluster_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cluster_id",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                9,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# Incremental near-dedup: new batch vs an existing corpus (cross-LSH)
# ---------------------------------------------------------------------------


def minhash_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_hashes: int = 128,
    n_bands: int = 32,
    shingle_len: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Near-dup matches of NEW documents against an EXISTING corpus:
    (new_id, corpus_id, jaccard) for true jaccard >= threshold.

    The incremental twin of ``minhash_near_duplicates`` — the everyday
    shape in a training pipeline (dedup today's crawl against the
    accumulated corpus before appending). Cost scales with the NEW
    side: both sides band with the same seeded permutations, but the
    join is new-bands x corpus-bands only — no corpus-corpus pairs
    ever form, so yesterday's 100 TB never self-joins again.
    Candidates verify with exact jaccard (array intersect/union on the
    two token sets); precision is exact, recall is the LSH banding
    curve (miss prob (1-t^rows)^bands)."""
    rows_per_band = n_hashes // n_bands

    def bandit(sig_df: DataFrame, name: str) -> DataFrame:
        # shared banding (minhash_band_rows) - see lsh_candidate_pairs
        return minhash_band_rows(
            sig_df, id_col, n_bands, rows_per_band
        ).select(
            F.col(id_col).alias(name),
            "band",
            F.col("bkt").alias("bucket"),
        )

    new_sig = minhash_signatures(
        new_df, text_col, id_col, n_hashes, shingle_len, seed
    )
    corpus_sig = minhash_signatures(
        corpus_df, text_col, id_col, n_hashes, shingle_len, seed
    )
    cands = (
        bandit(new_sig, "new_id")
        .join(bandit(corpus_sig, "corpus_id"), ["band", "bucket"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    new_toks = new_df.select(
        F.col(id_col).alias("new_id"),
        F.array_distinct(_token_array(F.col(text_col), shingle_len)).alias(
            "__tn"
        ),
    )
    corpus_toks = corpus_df.select(
        F.col(id_col).alias("corpus_id"),
        F.array_distinct(_token_array(F.col(text_col), shingle_len)).alias(
            "__tc"
        ),
    )
    inter = F.size(F.array_intersect("__tn", "__tc"))
    union = F.size("__tn") + F.size("__tc") - inter
    return (
        cands.join(new_toks, "new_id")
        .join(corpus_toks, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def filter_near_duplicates_of(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.95,
    **kwargs,
) -> DataFrame:
    """``new_df`` minus rows near-duplicating the corpus — the J1
    exact-key dedup gate (``dedup_against_table``) generalized to
    near-duplicates. Anti-join on the match list; the new batch passes
    through otherwise untouched."""
    matches = minhash_against_corpus(
        new_df, corpus_df, text_col, id_col, threshold, **kwargs
    ).select(F.col("new_id").alias(id_col))
    return new_df.join(matches, id_col, "left_anti")


# ---------------------------------------------------------------------------
# X2: exact-substring duplication (rolling token windows)
# ---------------------------------------------------------------------------


def _window_array(text: Column, window: int) -> Column:
    """Every consecutive ``window``-token span of the text, as
    space-joined strings (step 1, NOT distinct — positions matter for
    the duplicated-fraction profile)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - F.lit(window))
    return F.when(
        n >= window,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window))),
    ).otherwise(F.array().cast("array<string>"))


def substring_duplication_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
) -> DataFrame:
    """Per-document exact-substring duplication profile (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"):
    the fraction of a document's rolling ``window``-token spans whose
    exact text occurs anywhere else in the corpus (including repeats
    inside the same document). The suffix-array approach of the paper
    is replaced by the distributed equivalent: explode every span,
    count occurrences per span text (ONE map-side-combining groupBy),
    join the verdict back. Documents shorter than ``window`` tokens
    report n_windows = 0.

    Returns (id_col, n_windows, n_dup_windows, dup_frac)."""
    spans = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_window_array(F.col(text_col), window)).alias("__w"),
    )
    counts = spans.groupBy("__w").agg(F.count("*").alias("__cnt"))
    prof = (
        spans.join(counts, "__w")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("__cnt") >= 2).cast("long")).alias("n_dup_windows"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(prof, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
        .fillna({"n_windows": 0, "n_dup_windows": 0})
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_windows") > 0,
                F.col("n_dup_windows").cast("double") / F.col("n_windows"),
            ).otherwise(F.lit(0.0)),
        )
    )


def exact_substring_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    max_docs_per_window: int = 64,
) -> DataFrame:
    """Document pairs sharing at least one exact ``window``-token span,
    with the number of distinct shared spans per pair.

    Scale discipline (same lessons as the LSH/Jaccard operators): each
    document contributes its DISTINCT spans once; spans present in more
    than ``max_docs_per_window`` documents are dropped as boilerplate
    "stop windows" BEFORE the pair join (the standard cap — a span in
    10^5 docs would otherwise expand to 10^10 pairs), so the self-join
    is bounded at cap² per span; the eligible (span, doc) table is
    cached because it feeds both sides.

    Returns (doc_a, doc_b, n_shared) with doc_a < doc_b."""
    wins = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(
            F.array_distinct(_window_array(F.col(text_col), window))
        ).alias("__w"),
    ).filter(F.col("__w").isNotNull())
    eligible = wins.groupBy("__w").agg(F.count("*").alias("__nd")).filter(
        (F.col("__nd") >= 2) & (F.col("__nd") <= max_docs_per_window)
    )
    e = wins.join(eligible.select("__w"), "__w").cache()
    a = e.select(F.col("__w"), F.col("__id").alias("doc_a"))
    b = e.select(F.col("__w"), F.col("__id").alias("doc_b"))
    pairs = (
        a.join(b, "__w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return pairs


def canonical_text(col: Column) -> Column:
    """Portable canonical form for normalization-invariant dedup (the
    Dolma/C4 "fuzzy-exact" tier between byte-exact and MinHash):
    lowercase, non-alphanumerics to spaces, whitespace collapsed,
    trimmed. Every step is a deterministic expression both Spark and
    ANSI-SQL engines evaluate identically - case folds, punctuation,
    extra whitespace and surrounding markup stop distinguishing
    otherwise-identical documents."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def canonical_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup over the canonical form: one shuffle on
    sha2(canonical), whole keeper row survives plus ``n_variants`` (how
    many rows collapsed into this keeper - 1 means unique). Same window
    skeleton as :func:`exact_dedup`; the canonicalization is a pure
    projection, so the plan cost is identical."""
    order = F.asc(id_col) if keep == "min" else F.desc(id_col)
    # materialize the key ONCE: two windows each deriving their own
    # sha2(...) expression would not share a distribution and Catalyst
    # plans two exchanges (plan-asserted to stay at one)
    keyed = df.withColumn(
        "__ck", F.sha2(canonical_text(F.col(text_col)), 256)
    )
    w = Window.partitionBy("__ck").orderBy(order)
    wc = Window.partitionBy("__ck")
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_variants", F.count("*").over(wc))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ck")
    )


def minhash_band_rows(
    signatures: DataFrame,
    id_col: str,
    n_bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Explode MinHash signatures into their LSH band rows
    ``(id, band, bkt)`` - the storable/joinable form of the banding
    inside :func:`lsh_candidate_pairs`. Persisting these rows for an
    accumulated corpus (the streaming near-dedup sidecar) means a new
    batch probes the corpus with ONE equality join on ``(band, bkt)``
    - the corpus is never re-shingled, re-hashed, or re-banded."""
    sig = F.col("minhash")
    bands = []
    for b in range(n_bands):
        band = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        bands.append(
            F.struct(F.lit(b).alias("band"), F.hash(band).alias("bkt"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkt").alias("bkt"))
