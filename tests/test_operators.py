"""Operator-layer tests: dedup family (X1/X2), similarity search (X3),
multimodal plumbing (X5), file sources, plan quality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
    dedup_intra_batch,
    exact_dedup,
    minhash_near_duplicates,
    simhash,
    simhash_near_duplicates,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.multimodal import (
    attach_binary,
    decode_binary_metadata,
    frame_sample_plan,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
    knn_bruteforce,
    knn_lsh,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.queries import QUERIES
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.sources.files import (
    file_checksums,
    list_symbol_dirs,
    read_parquet_recursive,
)


# --- X1 exact dedup ---------------------------------------------------------


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")],
        "doc_id long, text string",
    )
    out = exact_dedup(df, "text", "doc_id")
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {1, 2, 5}
    # full rows survive, not just keys
    assert set(out.columns) == {"doc_id", "text"}


def test_intra_batch_dedup_strict_mode(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "k long, v string"
    )
    assert dedup_intra_batch(df, ["k"]).count() == 2


# --- X2 MinHash/LSH vs exact jaccard ---------------------------------------


def test_minhash_matches_exact_jaccard(spark, sf_small):
    """Precision must be exact (verified pairs) and recall ~1 at the
    fixture scale vs the exact q41 result."""
    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    approx = minhash_near_duplicates(d, "text", "doc_id", threshold=0.95)
    approx_pairs = {(r["id_a"], r["id_b"]) for r in approx.collect()}

    exact = QUERIES["q41_dedup_token_jaccard"](spark, sf_small)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}

    assert approx_pairs <= exact_pairs, "minhash produced a false positive"
    if exact_pairs:
        recall = len(approx_pairs) / len(exact_pairs)
        assert recall >= 0.9, f"minhash recall too low: {recall:.3f}"


def test_lsh_bucket_cap_drops_boilerplate(spark):
    """Skew guard: a band bucket stuffed with boilerplate documents is
    dropped before the candidate self-join (bounding the worst case at
    cap^2 per bucket), while small buckets keep producing candidates -
    and None preserves the exact uncapped behavior."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    # 2 bands x 2 rows; ids 0..29 collide in band 0 (same leading rows,
    # boilerplate), all differ in band 1 except ids 100/101 which share
    # BOTH bands (a true near-duplicate pair)
    rows = [(i, [7, 7, 1000 + i, 2000 + i]) for i in range(30)]
    rows += [(100, [50, 51, 60, 61]), (101, [50, 51, 60, 61])]
    sigs = spark.createDataFrame(rows, "gid long, minhash array<long>")

    uncapped = lsh_candidate_pairs(sigs, "gid", n_bands=2, rows_per_band=2)
    up = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert (100, 101) in up
    assert sum(1 for a, b in up if a < 30 and b < 30) == 30 * 29 // 2

    capped = lsh_candidate_pairs(
        sigs, "gid", n_bands=2, rows_per_band=2, max_bucket_size=8
    )
    cp = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in cp, "small buckets must keep their candidates"
    assert not any(a < 30 and b < 30 for a, b in cp), (
        "boilerplate bucket must be dropped entirely"
    )
    # end-to-end pass-through: capped pairs are a subset of uncapped
    d = spark.createDataFrame(
        [(i, f"common words here tail{i}") for i in range(6)],
        "doc_id long, text string",
    )
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            d, "text", "doc_id", threshold=0.2
        ).collect()
    }
    sub = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            d, "text", "doc_id", threshold=0.2, max_bucket_size=2
        ).collect()
    }
    assert sub <= full


def test_simhash_deterministic_and_near_dup(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # 1 token differs
        (3, "completely different content about spark engines and tables"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp1 = {r["doc_id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    assert fp1 == fp2  # deterministic
    pairs = simhash_near_duplicates(df, "text", "doc_id", max_hamming=16).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found


# --- X3 similarity search ---------------------------------------------------


def test_knn_bruteforce_self_consistent(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    out = knn_bruteforce(emb, q, k=3)
    rows = out.collect()
    assert len(rows) == 15  # 5 queries x 3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, nbrs in by_q.items():
        sims = [r["sim"] for r in sorted(nbrs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in nbrs)


def test_knn_lsh_recall_vs_bruteforce(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(emb, q, k=5)
    approx = knn_lsh(emb, q, dim=64, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # fixture neighbors sit at cosine ~0.3 (near-orthogonal synthetic
    # data) - the hardest possible regime for sign-LSH; clustered real
    # embeddings recall far higher at the same params
    assert recall >= 0.55, f"LSH recall too low: {recall:.2f}"


# --- X5 multimodal plumbing -------------------------------------------------


def test_decode_binary_metadata_plumbing(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet").limit(50)
    binary = attach_binary(d)
    out = decode_binary_metadata(binary, id_col="doc_id")
    rows = out.collect()
    assert len(rows) == 50
    r0 = rows[0]
    assert r0["n_bytes"] > 0
    assert 1 <= r0["width"] <= 1920
    assert len(r0["feature_hash"]) == 16
    # deterministic fake: same input -> same output
    rows2 = decode_binary_metadata(binary, id_col="doc_id").collect()
    assert {r["feature_hash"] for r in rows} == {r["feature_hash"] for r in rows2}


def test_decode_real_codec_is_stubbed(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet").limit(2)
    binary = attach_binary(d)
    out = decode_binary_metadata(binary, id_col="doc_id", use_real_codec=True)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        out.collect()


def test_frame_sample_plan(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet").limit(10)
    binary = attach_binary(d)
    out = frame_sample_plan(binary, every_n=1)
    assert out.columns == ["doc_id", "frame_index"]
    assert out.count() >= 10


# --- sources ---------------------------------------------------------------


def test_recursive_parquet_and_checksums(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "sym" / "deep").mkdir(parents=True)
    t = pa.table({"x": [1, 2, 3]})
    pq.write_table(t, tmp_path / "sym" / "a.parquet")
    pq.write_table(t, tmp_path / "sym" / "deep" / "b.parquet")
    df = read_parquet_recursive(spark, str(tmp_path / "sym"))
    assert df.count() == 6
    assert list_symbol_dirs(str(tmp_path)) == [str(tmp_path / "sym")]
    sums = file_checksums(spark, str(tmp_path / "sym")).collect()
    assert len(sums) == 2  # recursive discovery
    by_path = {r["path"]: r["checksum"] for r in sums}
    import hashlib

    for p, c in by_path.items():
        assert not p.startswith("file:")  # normalized to plain paths
        assert c == hashlib.md5(open(p, "rb").read()).hexdigest()


def test_knn_ivf_recall_vs_bruteforce(spark, sf_small):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        knn_ivf,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(emb, q, k=5)
    approx = knn_ivf(emb, q, k=5, n_lists=8, n_probes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing half the cells on near-uniform synthetic data: expect to
    # see roughly >= half the true neighbors
    assert recall >= 0.4, f"IVF recall too low: {recall:.2f}"
    # every reported neighbor's sim must be exact (re-ranked exactly)
    sims = {
        (r["query_id"], r["neighbor_id"]): r["sim"] for r in approx.collect()
    }
    exact_sims = {
        (r["query_id"], r["neighbor_id"]): r["sim"] for r in exact.collect()
    }
    for pair in e & a:
        assert abs(sims[pair] - exact_sims[pair]) < 1e-9


def test_salted_join_preserves_semantics(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.skew import (
        salted_join,
    )

    # heavily skewed probe: 90% of rows share key 1
    probe = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)],
        "k long, payload long",
    )
    build = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(1, 102)], "k long, name string"
    )
    plain = probe.join(build, on="k").select("k", "payload", "name")
    salted = salted_join(probe, build, on="k").select("k", "payload", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    # left join keeps unmatched probe rows
    probe2 = probe.union(spark.createDataFrame([(999, 7)], "k long, payload long"))
    lj = salted_join(probe2, build, on="k", how="left")
    assert lj.filter(F.col("k") == 999).count() == 1


def test_bucket_partitioned_point_lookup(spark, tmp_path):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
        bucket_prune,
        compute_bucket,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    spec = [PartitionField("k", "bucket", "k_bucket", n_buckets=8)]
    t = cat.create_table("gold.bucketed", df.schema, spec)
    t.append(df)

    snap = t.snapshot()
    buckets = {e["partition"].get("k_bucket") for e in snap.manifest}
    assert len(buckets) == 8  # all buckets materialized

    target = 137
    b = compute_bucket(t, spec[0], target)
    pruned = t.scan(file_filter=bucket_prune(spec[0], target)(b))
    full_files = len(snap.manifest)
    pruned_files = len([e for e in snap.manifest if int(e["partition"]["k_bucket"]) == b])
    assert pruned_files < full_files  # actually pruned
    got = pruned.filter(F.col("k") == target).collect()
    assert len(got) == 1 and got[0]["v"] == 137.0


def test_langid_char_ngrams(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.langid import (
        detect_language,
    )

    rows = [
        (1, "the quick brown fox and the lazy dog in the garden"),
        (2, "le chat est sur la table et les enfants sont dans le jardin"),
        (3, "der hund und die katze sind nicht in dem haus mit dem kind"),
        (4, "el perro y el gato que viven en la casa de los abuelos"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["detected_lang"], r["lang_confidence"])
           for r in detect_language(df).collect()}
    assert out[1][0] == "en"
    assert out[2][0] == "fr"
    assert out[3][0] == "de"
    assert out[4][0] == "es"
    for lang, conf in out.values():
        assert conf > 0.3
    # deterministic across runs
    out2 = {r["doc_id"]: r["detected_lang"] for r in detect_language(df).collect()}
    assert {k: v[0] for k, v in out.items()} == out2


def test_asof_join_edges(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.temporal import (
        asof_join,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    L = spark.createDataFrame(
        [(1, base, "a"), (1, base + dt.timedelta(seconds=10), "b"),
         (2, base, "c")],
        "user_id long, ts timestamp, tag string",
    )
    R = spark.createDataFrame(
        [(1, base, 100.0),  # equal ts: matches (asof <=)
         (1, base + dt.timedelta(seconds=5), 200.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {r["tag"]: r["value_right"] for r in
           asof_join(L, R, "ts", "user_id", ["value"]).collect()}
    assert out["a"] == 100.0   # exact-ts tie matches
    assert out["b"] == 200.0   # latest prior
    assert out["c"] is None    # no right rows for user 2


def test_interval_join_bucket_correctness(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.temporal import (
        interval_join,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    L = spark.createDataFrame(
        [(1, base + dt.timedelta(seconds=600), 1)],
        "user_id long, ts timestamp, lid int",
    )
    # rights at -601 (out), -600 (in), -1 (in), 0 (out: strictly before), +5 (out)
    R = spark.createDataFrame(
        [(1, base + dt.timedelta(seconds=600 + off), i)
         for i, off in enumerate([-601, -600, -1, 0, 5])],
        "user_id long, ts timestamp, rid int",
    )
    got = sorted(
        r["r_rid"]
        for r in interval_join(
            L, R, "ts", -600, -1e-6, bucket_secs=600, by="user_id"
        ).collect()
    )
    assert got == [1, 2]


def test_approx_sketches_within_error(spark, sf_small):
    """approx_count_distinct (HLL++) and percentile_approx sketches stay
    within their documented error vs exact - the mergeable-sketch path
    for 100 TB cardinality/quantile work (no portable oracle exists, so
    accuracy is pinned here instead of the driver gate)."""
    o = spark.read.parquet(f"{sf_small}/orders.parquet")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_med"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("approx_med"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05
    assert abs(row["approx_med"] - row["exact_med"]) / row["exact_med"] < 0.02


def test_dedup_scan_prunes_by_key_range(spark, tmp_path):
    """J1 at scale: the committed-keys scan only reads files whose key
    range overlaps the incoming batch (manifest-stats pruning)."""
    import datetime as dt

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        dedup_against_table,
    )
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [StructField("DateTime", TimestampType()), StructField("v", DoubleType())]
    )
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.rangededup", schema, [])

    def batch(year, n=20):
        return spark.range(n).select(
            (
                F.to_timestamp(F.lit(f"{year}-01-01"))
                + F.make_interval(secs=F.col("id"))
            ).alias("DateTime"),
            F.lit(float(year)).alias("v"),
        )

    t.append(batch(2020).coalesce(1))
    t.append(batch(2024).coalesce(1))

    # incoming overlaps only 2024: half its keys are already committed
    incoming = spark.range(10, 30).select(
        (
            F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(secs=F.col("id"))
        ).alias("DateTime"),
        F.lit(9.0).alias("v"),
    )
    clean = dedup_against_table(incoming, t, key="DateTime")
    assert clean.count() == 10  # 10..19 deduped, 20..29 new
    # and correctness end-to-end after append
    t.append(clean)
    assert t.to_df().count() == 50


def test_interval_join_wider_than_bucket(spark):
    """Intervals wider than one bucket explode to enough bucket keys."""
    import datetime as dt

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.temporal import (
        interval_join,
    )

    base = dt.datetime(2024, 1, 1)
    L = spark.createDataFrame(
        [(1, base + dt.timedelta(seconds=1000), 1)],
        "user_id long, ts timestamp, lid int",
    )
    # window [-900, +900] around t=1000 -> [100, 1900]; bucket=600
    offs = [-950, -900, -600, -1, 0, 500, 899, 900, 901]
    R = spark.createDataFrame(
        [(1, base + dt.timedelta(seconds=1000 + o), i) for i, o in enumerate(offs)],
        "user_id long, ts timestamp, rid int",
    )
    got = sorted(
        r["r_rid"]
        for r in interval_join(
            L, R, "ts", -900, 900, bucket_secs=600, by="user_id"
        ).collect()
    )
    assert got == [1, 2, 3, 4, 5, 6, 7]  # -900..900 inclusive, ends excluded


def test_rolling_hash_deterministic(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.hashing import (
        fingerprint_documents,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "hello worle")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["rolling_fp"] for r in fingerprint_documents(df).collect()}
    assert fp[1] == fp[2]          # identical text -> identical hash
    assert fp[1] != fp[3]          # one-char difference -> different hash
    assert 0 <= fp[1] < (1 << 31)  # modulo bound holds
    fp2 = {r["doc_id"]: r["rolling_fp"] for r in
           fingerprint_documents(df.repartition(7)).collect()}
    assert fp == fp2               # partition-layout independent


def test_resize_images_plumbing(spark, sf_small):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.multimodal import (
        attach_binary,
        resize_images,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet").limit(8)
    out = resize_images(attach_binary(d), target=(224, 224)).collect()
    assert len(out) == 8
    expected = 224 * 224 // 64
    for r in out:
        assert (r["target_w"], r["target_h"]) == (224, 224)
        assert len(r["resized"]) == expected


def test_connected_components_and_keepers(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        connected_components,
        dedup_keepers,
    )

    # components: {1,2,3,4} (chain), {10,11}, singleton {99}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "id long")
    cc = {r["id"]: r["cluster"] for r in connected_components(pairs, nodes, "id").collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}
    keep = {r["id"]: r["is_keeper"] for r in dedup_keepers(pairs, nodes, "id").collect()}
    assert keep == {1: True, 2: False, 3: False, 4: False, 10: True, 11: False, 99: True}


def test_point_in_range_join_boundaries_and_wide_intervals(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.temporal import (
        point_in_range_join,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # interval A: 600s wide (fits one bucket); interval B: 3 buckets wide
    iv = spark.createDataFrame(
        [
            ("A", base, base + dt.timedelta(seconds=600)),
            ("B", base + dt.timedelta(seconds=1000), base + dt.timedelta(seconds=2500)),
        ],
        "name string, s timestamp, e timestamp",
    )
    # points: at A.start (in), inside A (in), at A.end (in: BETWEEN is
    # inclusive), 1s past A.end (out), inside B spanning a bucket edge (in),
    # at B.end (in), past B.end (out)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=off))
         for i, off in enumerate([0, 300, 600, 601, 1500, 2500, 2501])],
        "pid int, ts timestamp",
    )
    got = sorted(
        (r["name"], r["p_pid"])
        for r in point_in_range_join(iv, pts, "s", "e", "ts", bucket_secs=600).collect()
    )
    assert got == [("A", 0), ("A", 1), ("A", 2), ("B", 4), ("B", 5)]
    # with a by-key, cross-key points must not match
    iv2 = iv.withColumn("k", F.lit(1))
    pts2 = pts.withColumn("k", F.lit(2))
    assert (
        point_in_range_join(iv2, pts2, "s", "e", "ts", bucket_secs=600, by="k").count()
        == 0
    )


# -- k-means clustering (operators/clustering.py) ----------------------------


def test_kmeans_assignment_matches_numpy(spark, sf_small):
    """assign_clusters argmin == numpy argmin (ties to lowest cluster)."""
    import numpy as np

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.clustering import (
        assign_clusters,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    X = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    cents = [(i, [float(x) for x in X[i]]) for i in range(8)]
    out = assign_clusters(emb, cents).select(
        "vec_id", "cluster_id", "dist_sq"
    ).collect()
    assert len(out) == len(X)
    for r in out:
        v = X[r["vec_id"]]
        d = [round(float(((v - np.array(cv)) ** 2).sum()), 9) for _, cv in cents]
        expected = min(range(8), key=lambda i: (d[i], i))
        assert r["cluster_id"] == expected, r["vec_id"]


def test_kmeans_assignment_plan_has_no_shuffle(spark, sf_small):
    """The assignment is a pure projection: centroids live in the plan as
    literals, so no Exchange appears before the scan->project pipeline."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.clustering import (
        assign_clusters,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    plan = (
        assign_clusters(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_kmeans_fit_inertia_non_increasing(spark, sf_small):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.clustering import (
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    assigned, cents, inertia = kmeans_fit(emb, k=5, n_iters=4)
    assert len(inertia) == 4
    assert all(
        inertia[i] >= inertia[i + 1] - 1e-6 for i in range(len(inertia) - 1)
    ), inertia
    assert len(cents) == 5
    # every row assigned exactly once
    assert assigned.count() == emb.count()
    assert assigned.select("cluster_id").distinct().count() <= 5


# -- PII redaction (operators/redact.py) -------------------------------------


def test_redact_default_rules(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.redact import (
        redact_text,
    )

    rows = [
        (1, "mail bob.smith+x@corp.example.co or call 415-555-1234 now"),
        (2, "ssn 123-45-6789 from host 192.168.0.1"),
        (3, "clean text, nothing to scrub"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in redact_text(df).collect()}

    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "[email]" in out[1]["text_redacted"]
    assert "[phone]" in out[1]["text_redacted"]
    assert "bob.smith" not in out[1]["text_redacted"]

    assert out[2]["n_ssn"] == 1 and out[2]["n_ipv4"] == 1
    assert "[ssn]" in out[2]["text_redacted"]
    assert "[ipv4]" in out[2]["text_redacted"]
    assert "123-45-6789" not in out[2]["text_redacted"]

    assert out[3]["text_redacted"] == rows[2][1]  # untouched
    assert sum(out[3][f"n_{k}"] for k in ("email", "phone", "ssn", "ipv4")) == 0
    assert out[4]["text_redacted"] == ""  # null-safe


# -- deterministic sampling (operators/sampling.py) --------------------------


def test_stratified_sample_exact_and_stable(spark, sf_small):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
        stratified_sample,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "lang"
    )
    s1 = stratified_sample(d, ["lang"], 10, key_col="doc_id")
    per = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(10, sizes[lang]), (lang, n)
    # deterministic: same rows on re-run and after repartitioning
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in stratified_sample(d.repartition(13), ["lang"], 10, "doc_id").collect()
    )
    assert ids1 == ids2


def test_sample_fraction_append_stable(spark, sf_small):
    """Rows sampled from a prefix of the data stay sampled when more
    data arrives - the property RNG sampling loses."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
        sample_fraction,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id")
    half = d.filter(F.col("doc_id") < 250)
    s_half = {r["doc_id"] for r in sample_fraction(half, 0.3, "doc_id").collect()}
    s_full = {r["doc_id"] for r in sample_fraction(d, 0.3, "doc_id").collect()}
    assert s_half <= s_full
    # roughly the requested fraction (md5 is uniform; 500 docs)
    assert 0.15 < len(s_full) / d.count() < 0.45


# -- document chunking (operators/chunking.py) -------------------------------


def test_chunk_text_windows(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.chunking import (
        chunk_text,
    )

    rows = [(1, "a" * 10 + "b" * 10 + "c" * 5), (2, "x" * 3), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = chunk_text(df, size=10, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    # doc 1: len 25, stride 6 -> ceil((25-4)/6)=4 chunks, offsets 0/6/12/18
    chunks1 = sorted(by_doc[1])
    assert [i for i, _ in chunks1] == [0, 1, 2, 3]
    text1 = rows[0][1]
    for i, c in chunks1:
        assert c == text1[i * 6 : i * 6 + 10]
    # consecutive chunks overlap by exactly 4 chars
    assert chunks1[0][1][-4:] == chunks1[1][1][:4]
    # short doc: one (short) chunk; empty/null: no chunks
    assert by_doc[2] == [(0, "xxx")]
    assert 3 not in by_doc and 4 not in by_doc

    with pytest.raises(ValueError):
        chunk_text(df, size=5, overlap=5)


def test_chunk_by_tokens_windows(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.chunking import (
        chunk_by_tokens,
    )

    rows = [
        (1, " ".join(f"t{i}" for i in range(25))),  # 25 tokens
        (2, "one two three"),                        # 3 tokens, 1 chunk
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = chunk_by_tokens(df, max_tokens=10, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk"], r["chunk_tokens"])
        )
    # doc 1: 25 tokens, stride 6 -> ceil((25-4)/6) = 4 chunks
    chunks1 = sorted(by_doc[1])
    assert [i for i, _, _ in chunks1] == [0, 1, 2, 3]
    toks1 = rows[0][1].split(" ")
    for i, c, n in chunks1:
        expect = toks1[i * 6 : i * 6 + 10]
        assert c.split(" ") == expect
        assert n == len(expect) <= 10  # no chunk exceeds max_tokens
    # exact overlap: last 4 tokens of chunk i == first 4 of chunk i+1
    for (_, a, _), (_, b, _) in zip(chunks1, chunks1[1:]):
        assert a.split(" ")[-4:] == b.split(" ")[:4]
    # coverage: chunk 0 + tails of later chunks reconstruct the stream
    recon = chunks1[0][1].split(" ")
    for _, c, _ in chunks1[1:]:
        recon += c.split(" ")[4:]
    assert recon == toks1
    # short doc: one chunk, full text; empty/null: no chunks
    assert by_doc[2] == [(0, "one two three", 3)]
    assert 3 not in by_doc and 4 not in by_doc

    with pytest.raises(ValueError):
        chunk_by_tokens(df, max_tokens=4, overlap=4)


def test_chunk_by_tokens_properties(spark):
    """Property sweep over sizes: for every (max_tokens, overlap) the
    chunks cover the token stream exactly, every chunk respects
    max_tokens, and stride arithmetic leaves no gap."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.chunking import (
        chunk_by_tokens,
    )

    texts = [
        (n, " ".join(f"w{j}" for j in range(n)))
        for n in (1, 5, 9, 10, 11, 37, 100)
    ]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    for max_tokens, overlap in [(10, 0), (10, 4), (10, 9), (7, 3)]:
        out = chunk_by_tokens(df, max_tokens=max_tokens, overlap=overlap)
        by_doc = {}
        for r in out.collect():
            by_doc.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["chunk"].split(" "))
            )
        stride = max_tokens - overlap
        for n, _ in texts:
            toks = [f"w{j}" for j in range(n)]
            chunks = [c for _, c in sorted(by_doc[n])]
            assert all(len(c) <= max_tokens for c in chunks)
            recon = list(chunks[0])
            for c in chunks[1:]:
                recon += c[overlap:]
            assert recon == toks, (n, max_tokens, overlap)
            # every chunk starts exactly stride tokens after the last
            for i, c in enumerate(chunks):
                assert c[0] == toks[i * stride]


# -- BPE vocabulary fitting (operators/bpe.py) -------------------------------


def _reference_bpe(word_freq: dict, num_merges: int):
    """Textbook BPE fit (pure Python): most-frequent adjacent pair,
    lexicographic tie-break - the oracle the distributed fit must
    reproduce merge-for-merge."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freq.items()}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for syms, f in vocab.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_fit_bpe_matches_reference(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.bpe import (
        fit_bpe,
    )

    docs = [
        (1, "low low low low low lower lower"),
        (2, "newest newest newest newest newest newest"),
        (3, "widest widest widest"),
    ]
    df = spark.createDataFrame(docs, "id int, text string")
    word_freq = {}
    for _, t in docs:
        for w in t.split():
            word_freq[w] = word_freq.get(w, 0) + 1
    expected = _reference_bpe(word_freq, 12)
    got = fit_bpe(df, num_merges=12, checkpoint_every=4)
    assert got == expected, f"\n got {got}\nwant {expected}"


def test_bpe_encode_properties(spark):
    """Encoding invariants: concatenating a word's pieces reconstructs
    word+</w>; more merges never increase the token count; the udf's
    count column equals the array size."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.bpe import (
        END_OF_WORD,
        bpe_encode,
        fit_bpe,
    )

    corpus = "the cat sat on the mat the cat ran the cat sat again and again"
    df = spark.createDataFrame([(1, corpus)], "id int, text string")
    merges = fit_bpe(df, num_merges=15, min_pair_freq=2)
    assert merges  # corpus has repeated pairs

    out = bpe_encode(df, merges).first()
    toks, n = out["bpe_tokens"], out["bpe_token_count"]
    assert n == len(toks)
    # piece concatenation reconstructs the word stream with markers
    recon = "".join(toks).replace(END_OF_WORD, " ").strip()
    assert recon == corpus
    # monotonicity: a longer merge list cannot produce more tokens
    n_half = bpe_encode(df, merges[: len(merges) // 2]).first()[
        "bpe_token_count"
    ]
    n_none = bpe_encode(df, []).first()["bpe_token_count"]
    assert n <= n_half <= n_none
    # zero merges == characters + one marker per word
    assert n_none == sum(len(w) + 1 for w in corpus.split())


def test_exact_jaccard_low_threshold_guard(spark):
    """t=0.3 on long documents would expand the size band toward an
    all-pairs join - the operator must refuse with a pointer to the
    minhash scale tier instead of silently building a quadratic plan."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        exact_jaccard_pairs,
    )

    long_docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(200))) for i in range(6)],
        "doc_id long, text string",
    )
    # the guard lives IN the plan (raise_error on over-wide bands), so it
    # fires when the quadratic expansion would actually execute
    with pytest.raises(Exception, match="minhash_near_duplicates"):
        exact_jaccard_pairs(long_docs, "text", "doc_id", threshold=0.3).count()

    # explicit opt-in still works
    out = exact_jaccard_pairs(
        long_docs, "text", "doc_id", threshold=0.3, max_size_band=1000
    )
    assert out.count() == 0  # disjoint vocabularies: no pairs


def test_exact_jaccard_large_vocab_broadcast_dict(spark):
    """The bitmap path switches its token->id mapping from a literal map
    to a broadcast hash join above 256 distinct tokens (r14: GetMapValue
    on a literal map is a linear scan per lookup). Pairs and scores must
    be identical through the join-mapped masks."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        exact_jaccard_pairs,
    )

    # 300-token shared vocabulary (> the 256 literal-map cutoff, < the
    # 4096 bitmap budget); docs 1/2 share 57/60 tokens (jaccard 57/63 ~
    # 0.905), doc 3 is an exact duplicate of doc 1, doc 4 is disjoint
    base = [f"w{j}" for j in range(60)]
    docs = [
        (1, " ".join(base)),
        (2, " ".join(base[:57] + ["w100", "w101", "w102"])),
        (3, " ".join(base)),
        (4, " ".join(f"w{j}" for j in range(150, 450))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = exact_jaccard_pairs(df, "text", "doc_id", threshold=0.9)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert set(rows) == {(1, 3), (1, 2), (2, 3)}
    assert rows[(1, 3)] == 1.0
    assert abs(rows[(1, 2)] - 57 / 63) < 1e-12
    assert abs(rows[(2, 3)] - 57 / 63) < 1e-12


# ---------------------------------------------------------------------------
# benchmark contamination (operators/contamination.py)
# ---------------------------------------------------------------------------


def test_ngram_contamination_exact(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.contamination import (
        ngram_contamination,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the capital of france is paris indeed"),  # leaks benchmark
            (2, "completely unrelated text about spark joins"),
            (3, "too short"),  # fewer than n words
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "what is the capital of france is paris")],
        "doc_id long, text string",
    )
    rep = {
        r["doc_id"]: r
        for r in ngram_contamination(corpus, bench, n=4).collect()
    }
    # doc1 grams: 4 distinct; all but "france is paris indeed" appear
    # in the benchmark's gram set
    assert rep[1]["n_grams"] == 4
    assert rep[1]["n_matched"] == 3
    assert rep[1]["contamination_frac"] == pytest.approx(0.75)
    assert rep[1]["is_contaminated"]
    assert rep[2]["n_matched"] == 0 and not rep[2]["is_contaminated"]
    assert rep[3]["n_grams"] == 0
    assert rep[3]["contamination_frac"] == 0.0


def test_ngram_contamination_broadcasts_benchmark(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.contamination import (
        ngram_contamination,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(50)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, "w1 w2 w3")], "doc_id long, text string")
    rep = ngram_contamination(corpus, bench, n=3)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # duplicate grams inside one doc count once (distinct-set semantics)
    assert rep.filter("is_contaminated").count() == 2  # docs 0 (w1 w2 w3) & 1


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: cluster-blocked cosine)
# ---------------------------------------------------------------------------


def test_semantic_duplicates_within_cluster(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        semantic_duplicates,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),          # centroid A
        (1, [0.0, 1.0, 0.0]),          # centroid B
        (2, [0.99, 0.01, 0.0]),        # near-dup of 0, cluster A
        (3, [0.01, 0.99, 0.0]),        # near-dup of 1, cluster B
        (4, [0.0, 0.0, 1.0]),          # isolated, joins nearer cluster
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    pairs = semantic_duplicates(df, cents, threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 2) in got and (1, 3) in got
    # high-sim pairs across clusters are invisible by design
    assert all(a != 4 and b != 4 for a, b in got)
    for r in pairs:
        assert r["sim"] >= 0.95


def test_semantic_duplicates_cross_cluster_blindness(spark):
    """The documented SemDeDup trade-off: a near-dup pair that straddles
    a cluster boundary is not reported."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        semantic_duplicates,
    )

    # two vectors 0.9995 cosine-similar, but centroids chosen so each
    # lands in a different cluster
    rows = [(0, [1.0, 0.02, 0.0]), (1, [1.0, -0.02, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.5, 0.0]), (1, [1.0, -0.5, 0.0])]
    assert semantic_duplicates(df, cents, threshold=0.9).count() == 0


# ---------------------------------------------------------------------------
# incremental near-dedup (new batch vs corpus)
# ---------------------------------------------------------------------------


def test_minhash_against_corpus(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        filter_near_duplicates_of,
        minhash_against_corpus,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
            (11, "alpha beta gamma delta epsilon eta"),    # 5/7 jaccard of 1
            (12, "totally fresh unseen content here now"),
        ],
        "doc_id long, text string",
    )
    m = minhash_against_corpus(new, corpus, "text", "doc_id", threshold=0.9)
    rows = {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in m.collect()}
    assert rows == {(10, 1): 1.0}  # only the exact dup passes 0.9
    # lower threshold admits the 5/7 overlap
    m2 = minhash_against_corpus(new, corpus, "text", "doc_id", threshold=0.7)
    got = {(r["new_id"], r["corpus_id"]) for r in m2.collect()}
    assert got == {(10, 1), (11, 1)}
    # the gate keeps only genuinely new docs; corpus rows never pair
    # with each other (no corpus_id ever equals another corpus doc)
    clean = filter_near_duplicates_of(
        new, corpus, "text", "doc_id", threshold=0.7
    )
    assert {r["doc_id"] for r in clean.collect()} == {12}


def test_weighted_sample_deterministic_and_proportional(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
        weighted_sample,
    )
    from pyspark.sql import functions as F

    df = spark.range(4000).select(
        F.col("id"),
        # two weight classes: 0.8 and 0.2
        F.when(F.col("id") % 2 == 0, 0.8).otherwise(0.2).alias("w"),
    )
    kept = weighted_sample(df, F.col("w"), "id")
    a = kept.filter(F.col("id") % 2 == 0).count()
    b = kept.filter(F.col("id") % 2 != 0).count()
    # expectation: 1600 vs 400; allow generous tolerance
    assert 1300 < a < 1900
    assert 250 < b < 550
    # deterministic: identical second run
    kept2 = weighted_sample(df, F.col("w"), "id")
    assert sorted(r["id"] for r in kept.collect()) == sorted(
        r["id"] for r in kept2.collect()
    )
    # weight >= 1 with scale 1 keeps everything; weight 0 keeps nothing
    assert weighted_sample(df, F.lit(1.0), "id", scale=1.0).count() == 4000
    assert weighted_sample(df, F.lit(0.0), "id").count() == 0


def test_hashed_embedding_dense_matches_norms(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.embedding import (
        embedding_norms,
        hashed_embedding,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "spark hash trick embedding spark"),
            (2, "a completely different document"),
            (3, None),  # no tokens -> zero vector
        ],
        "doc_id long, text string",
    )
    emb = hashed_embedding(df, dim=32)
    rows = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    assert all(len(v) == 32 for v in rows.values())
    assert rows[3] == [0.0] * 32
    # dense-array norms equal the no-materialization norms path
    import math

    norms = {r["doc_id"]: r["norm"] for r in embedding_norms(df, dim=32).collect()}
    for did in (1, 2):
        assert math.sqrt(sum(x * x for x in rows[did])) == pytest.approx(
            norms[did]
        )
    # duplicate tokens accumulate: "spark" twice -> some |component| == 2
    assert any(abs(x) == 2.0 for x in rows[1])
    # deterministic across runs
    again = {r["doc_id"]: r["embedding"] for r in hashed_embedding(df, dim=32).collect()}
    assert again == rows
    # normalized variant has unit norm (except the zero vector)
    unit = {
        r["doc_id"]: r["embedding"]
        for r in hashed_embedding(df, dim=32, normalize=True).collect()
    }
    assert math.sqrt(sum(x * x for x in unit[1])) == pytest.approx(1.0)
    assert unit[3] == [0.0] * 32


def test_chunk_by_tokens_regex_delimiter(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.chunking import (
        chunk_by_tokens,
    )

    df = spark.createDataFrame(
        [(1, "a.b.c.d.e")], "doc_id long, text string"
    )
    out = chunk_by_tokens(
        df, max_tokens=2, overlap=0, delimiter="."
    ).orderBy("chunk_idx").collect()
    assert [r["chunk"] for r in out] == ["a.b", "c.d", "e"]
    assert [r["chunk_tokens"] for r in out] == [2, 2, 1]


class TestMixCorpus:
    def test_budget_and_determinism(self, spark, sf_small):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
            mix_corpus,
        )

        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        weights = {"src0": 0.5, "src1": 0.5}
        kept = mix_corpus(
            d, "source", weights, budget=6000, size_col="n_chars",
            key_col="doc_id",
        )
        rows = kept.collect()
        # only weighted domains survive
        assert {r["source"] for r in rows} <= set(weights)
        max_doc = max(r["n_chars"] for r in rows)
        for src in weights:
            tot = sum(r["n_chars"] for r in rows if r["source"] == src)
            dom_budget = weights[src] * 6000
            assert tot > 0  # at least one doc per populated domain
            # overshoot bounded by one document
            assert tot < dom_budget + max_doc
        # deterministic: identical set on re-run
        again = {r["doc_id"] for r in kept.collect()}
        assert again == {r["doc_id"] for r in rows}

    def test_tiny_budget_keeps_one_doc(self, spark, sf_small):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
            mix_corpus,
        )

        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        kept = mix_corpus(
            d, "source", {"src5": 1.0}, budget=1, size_col="n_chars",
            key_col="doc_id",
        )
        assert kept.count() == 1  # first hash-ordered doc always lands


class TestUnigramLM:
    def test_smoothing_scores_unseen_tokens(self, spark):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.lm import (
            fit_unigram,
            score_unigram,
        )

        corpus = spark.createDataFrame(
            [(1, "the cat sat"), (2, "the dog sat")], "doc_id long, text string"
        )
        model = fit_unigram(corpus)
        assert model.total_tokens == 6
        assert model.vocab_size == 4  # the, cat, dog, sat
        new = spark.createDataFrame(
            [(10, "the zebra")], "doc_id long, text string"
        )
        scored = score_unigram(new, model, alpha=0.5).collect()[0]
        assert scored["n_tokens"] == 2
        # finite score even though 'zebra' was never seen
        assert scored["mean_logprob"] < 0
        import math

        assert math.isfinite(scored["mean_logprob"])
        # seen token scores higher than the unseen one
        denom = 6 + 0.5 * 5
        exp_the = math.log((2 + 0.5) / denom)
        exp_zebra = math.log(0.5 / denom)
        approx = (exp_the + exp_zebra) / 2
        assert abs(scored["mean_logprob"] - approx) < 1e-5

    def test_self_scoring_ranks_common_docs_higher(self, spark, sf_small):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.lm import (
            fit_unigram,
            score_unigram,
        )

        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        model = fit_unigram(d)
        scores = score_unigram(d, model)
        assert scores.count() == d.count()
        # every doc scored finite (alpha=0 over the fit corpus is safe)
        assert scores.filter(F.col("sum_qlogp").isNull()).count() == 0


    def test_alpha_zero_unseen_scores_neg_inf(self, spark):
        """alpha=0 + OOV tokens: the doc must score -inf (zero
        probability), never a finite average over only its seen tokens
        (Spark ln(0) is NULL, which F.sum would silently drop)."""
        import math

        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.lm import (
            fit_unigram,
            score_unigram,
        )

        corpus = spark.createDataFrame(
            [(1, "the cat sat")], "doc_id long, text string"
        )
        model = fit_unigram(corpus)
        new = spark.createDataFrame(
            [(10, "the zebra"), (11, "qq zz")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in score_unigram(new, model).collect()}
        assert rows[10]["n_unseen"] == 1
        assert rows[10]["mean_logprob"] == float("-inf")
        assert rows[11]["n_unseen"] == 2  # fully OOV
        assert rows[11]["mean_logprob"] == float("-inf")
        # with smoothing the same docs score finite, OOV still counted
        sm = {r["doc_id"]: r for r in
              score_unigram(new, model, alpha=0.5).collect()}
        assert sm[10]["n_unseen"] == 1
        assert math.isfinite(sm[10]["mean_logprob"])
        model.unpersist()


class TestSequencePacking:
    def test_matches_naive_global_window(self, spark, sf_small):
        """The two-phase scan equals a single global-window cumsum."""
        from pyspark.sql.window import Window

        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.packing import (
            global_prefix_sum,
        )

        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        got = {
            r["doc_id"]: r["offset"]
            for r in global_prefix_sum(d, "n_chars", "doc_id").collect()
        }
        h = F.md5(F.col("doc_id").cast("string"))
        w = (
            Window.orderBy(h, "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        naive = {
            r["doc_id"]: r["off"]
            for r in d.select(
                "doc_id",
                F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("off"),
            ).collect()
        }
        assert got == naive

    def test_packing_invariants(self, spark, sf_small):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.packing import (
            pack_sequences,
        )

        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        rows = pack_sequences(
            d, max_tokens=512, size_col="n_chars", key_col="doc_id"
        ).collect()
        total = sum(r["n_chars"] for r in rows)
        by_off = sorted(rows, key=lambda r: r["offset"])
        # offsets tile the stream exactly: no gaps, no overlaps
        acc = 0
        for r in by_off:
            assert r["offset"] == acc
            acc += r["n_chars"]
        assert acc == total
        # span labels consistent with offsets
        for r in by_off:
            assert r["seq_id"] == r["offset"] // 512
            assert r["seq_end_id"] == (r["offset"] + r["n_chars"] - 1) // 512
            assert r["n_seqs_spanned"] == r["seq_end_id"] - r["seq_id"] + 1
        # long docs span; at 512 chars most documents do
        assert any(r["n_seqs_spanned"] > 1 for r in by_off)

    def test_rejects_bad_budget(self, spark, sf_small):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.packing import (
            pack_sequences,
        )

        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            pack_sequences(d, 0, size_col="n_chars", key_col="doc_id")


    def test_bin_packing_invariants(self, spark, sf_small):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.packing import (
            pack_bins_greedy,
        )

        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        cap = 2048
        rows = pack_bins_greedy(
            d, cap, size_col="n_chars", key_col="doc_id"
        ).collect()
        assert len(rows) == d.count()  # every doc placed exactly once
        fills: dict[int, int] = {}
        for r in rows:
            fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_chars"]
            assert not r["oversize"]  # no sf0.001 doc exceeds 2048 chars
        assert all(f <= cap for f in fills.values())
        # FFD waste bound: bins used close to the volume lower bound
        total = sum(r["n_chars"] for r in rows)
        lower = -(-total // cap)
        assert len(fills) <= lower * 1.25 + 256  # +1 tail bin per bucket
        # deterministic
        again = {
            (r["doc_id"], r["bin_id"])
            for r in pack_bins_greedy(
                d, cap, size_col="n_chars", key_col="doc_id"
            ).collect()
        }
        assert again == {(r["doc_id"], r["bin_id"]) for r in rows}

    def test_bin_packing_oversize_isolated(self, spark):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.packing import (
            pack_bins_greedy,
        )

        d = spark.createDataFrame(
            [(1, 50), (2, 5000), (3, 60)], "doc_id long, n_chars long"
        )
        rows = {r["doc_id"]: r for r in pack_bins_greedy(
            d, 100, size_col="n_chars", key_col="doc_id"
        ).collect()}
        assert rows[2]["oversize"]
        # the oversize bin holds only the oversize doc
        assert [r["doc_id"] for r in rows.values()
                if r["bin_id"] == rows[2]["bin_id"]] == [2]


    def test_bin_packing_string_keys(self, spark):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.packing import (
            pack_bins_greedy,
        )

        d = spark.createDataFrame(
            [("a", 40), ("b", 50), ("c", 70)], "doc_id string, n_chars long"
        )
        rows = pack_bins_greedy(
            d, 100, size_col="n_chars", key_col="doc_id"
        ).collect()
        assert {r["doc_id"] for r in rows} == {"a", "b", "c"}
        fills = {}
        for r in rows:
            fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_chars"]
        assert all(f <= 100 for f in fills.values())


    def test_prefix_sum_scales_to_a_million_rows(self, spark):
        """1M-row scan: the two-phase prefix sum must stay distributed
        (driver holds only the 256-bucket prefix) and tile exactly."""
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.packing import (
            global_prefix_sum,
        )

        d = spark.range(1_000_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 700 + 1).alias("n"),
        )
        out = global_prefix_sum(d, "n", "doc_id")
        total = d.agg(F.sum("n")).first()[0]
        stats = out.agg(
            F.count("*").alias("rows"),
            F.min("offset").alias("lo"),
            F.max(F.col("offset") + F.col("n")).alias("end"),
            F.sum("n").alias("sum_n"),
        ).first()
        assert stats["rows"] == 1_000_000
        assert stats["lo"] == 0
        assert stats["end"] == total == stats["sum_n"]
        # offsets are unique (a perfect tiling implies no collisions)
        assert out.select("offset").distinct().count() == 1_000_000


class TestQuantization:
    def test_roundtrip_error_bounded(self, spark, sf_small):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.embedding import (
            dequantize_embedding,
            quantize_embeddings,
        )

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        q = quantize_embeddings(emb)
        row = q.select(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    dequantize_embedding("q_embedding", "q_embedding_scale"),
                    lambda a, b: F.abs(a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("max_err"),
            F.col("q_embedding_scale").alias("s"),
        ).agg(F.max(F.col("max_err") / F.col("s")).alias("worst")).first()
        # error per element is at most half a quantization step
        assert row["worst"] <= 0.5 + 1e-6

    def test_quantized_similarity_preserves_neighbors(self, spark, sf_small):
        """Top-1 neighbor by quantized cosine matches exact for most
        queries (the ANN-compression contract)."""
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.embedding import (
            dequantize_embedding,
            quantize_embeddings,
        )
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
            knn_bruteforce,
        )

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").limit(200)
        queries = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in knn_bruteforce(emb, queries, k=1).collect()
        }
        deq = quantize_embeddings(emb).withColumn(
            "embedding", dequantize_embedding("q_embedding", "q_embedding_scale")
        ).select("vec_id", "embedding", "label")
        dq = quantize_embeddings(queries).withColumn(
            "embedding", dequantize_embedding("q_embedding", "q_embedding_scale")
        ).select("vec_id", "embedding", "label")
        approx = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in knn_bruteforce(deq, dq, k=1).collect()
        }
        agree = sum(1 for k in exact if approx.get(k) == exact[k])
        assert agree >= int(0.8 * len(exact))

    def test_zero_vector_safe(self, spark):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.embedding import (
            quantize_embeddings,
        )

        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
        )
        r = quantize_embeddings(df).first()
        assert r["q_embedding_scale"] == 0.0
        assert list(r["q_embedding"]) == [0, 0, 0]


def test_knn_pq_recall_and_compression(spark, sf_small):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        knn_pq,
        pq_encode,
        pq_fit,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    m = 4 if dim % 4 == 0 else 2
    q = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(emb, q, k=5)
    approx = knn_pq(emb, q, k=5, m=m, nbits=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a) == len(e)  # k results per query either way
    recall = len(e & a) / len(e)
    # coarse 4-bit codebooks on synthetic data: a lossy sketch, but it
    # must beat random (k/N ~ 1%) by a wide margin
    assert recall >= 0.3, f"PQ recall too low: {recall:.2f}"

    # codes are valid and the representation is m small ints per vector
    books = pq_fit(emb, m=m, nbits=4)
    assert len(books) == m and all(len(b) == 16 for b in books)
    codes = pq_encode(emb, books)
    row = codes.first()
    assert len(row["pq_codes"]) == m
    bad = codes.filter(
        F.exists("pq_codes", lambda c: (c < 0) | (c > 15))
    ).count()
    assert bad == 0
    # encoding is deterministic: same fit -> same codes
    again = pq_encode(emb, books)
    assert codes.exceptAll(again).count() == 0


def test_dedup_paragraphs_keep_first(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.paragraphs import (
        dedup_paragraphs,
    )

    rows = [
        (1, "alpha\nbeta\ngamma"),
        (2, "beta\ndelta"),
        (3, "beta\nbeta\nepsilon"),
        (4, "zeta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    # "beta" occurs 4x corpus-wide: only its first occurrence (doc 1
    # pos 1) survives; everything unique is untouched.
    assert out[1]["text"] == "alpha\nbeta\ngamma"
    assert out[2]["text"] == "delta" and out[2]["n_removed"] == 1
    assert out[3]["text"] == "epsilon" and out[3]["n_removed"] == 2
    assert out[4]["text"] == "zeta" and out[4]["n_removed"] == 0
    assert out[3]["n_paras"] == 3


def test_dedup_paragraphs_drop_all_copies_and_empty_doc(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.paragraphs import (
        dedup_paragraphs,
    )

    rows = [(1, "dup"), (2, "dup"), (3, "dup\nsolo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup_paragraphs(df, keep_first=False).collect()
    }
    # keep_first=False removes EVERY copy; doc 1/2 collapse to ''
    assert out[1]["text"] == "" and out[1]["n_removed"] == 1
    assert out[2]["text"] == ""
    assert out[3]["text"] == "solo"
    # min_count above the max multiplicity keeps everything
    kept = {
        r["doc_id"]: r["text"]
        for r in dedup_paragraphs(df, min_count=10).collect()
    }
    assert kept == {1: "dup", 2: "dup", 3: "dup\nsolo"}


def test_paragraph_duplication_stats(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.paragraphs import (
        paragraph_duplication_stats,
    )

    rows = [(1, "x\ny"), (2, "x\nz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in paragraph_duplication_stats(df).collect()}
    assert out[1]["n_dup_paras"] == 1 and out[1]["n_paras"] == 2
    assert out[2]["dup_frac"] == 0.5


def test_exact_substring_pairs_and_cap(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        exact_substring_pairs,
    )

    shared = "w1 w2 w3 w4"  # a 4-token span planted in docs 1 and 2
    rows = [
        (1, f"a b {shared} c d"),
        (2, f"x {shared} y z"),
        (3, "p q r s t u v"),
        # boilerplate span in docs 10..14 — capped out at max 3 docs
        *[(10 + i, "hot hot hot hot pad%d" % i) for i in range(5)],
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = exact_substring_pairs(df, window=4, max_docs_per_window=3)
    got = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1
    # the "hot hot hot hot" span sits in 5 docs > cap 3: no pair from it
    assert all(a < 10 for a, _ in got)


def test_substring_duplication_profile_short_docs(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        substring_duplication_profile,
    )

    rows = [
        (1, "a b c d e"),
        (2, "a b c d f"),   # shares windows "a b c" / "b c d" with doc 1
        (3, "zz"),          # shorter than the window: zero windows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in substring_duplication_profile(df, window=3).collect()
    }
    assert out[1]["n_windows"] == 3 and out[1]["n_dup_windows"] == 2
    assert out[2]["n_dup_windows"] == 2
    assert out[3]["n_windows"] == 0 and out[3]["dup_frac"] == 0.0


# --- bigram LM with Stupid Backoff -----------------------------------------


def test_bigram_lm_backoff_and_oov(spark):
    import math

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.lm import (
        LOG_SCALE,
        fit_bigram,
        score_bigram,
    )

    corpus = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "c a b")],
        "doc_id long, text string",
    )
    m = fit_bigram(corpus, "text")
    # tokens: a x4, b x4, c x2 -> total 10, V 3; bigrams ab=4 ba=1 bc=1 ca=1
    assert (m.total_tokens, m.vocab_size) == (10, 3)

    probe = spark.createDataFrame(
        [
            (10, "a b"),      # seen bigram: ln(4/4) = 0
            (11, "b a c b"),  # ba seen ln(1/4); (a,c) backoff; (c,b) backoff
            (12, "a zz"),     # zz OOV -> -inf at alpha=0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in score_bigram(probe, m, "text").collect()}
    assert out[10]["sum_qscore"] == 0 and out[10]["n_backoff"] == 0

    r = out[11]
    assert (r["n_transitions"], r["n_backoff"], r["n_oov"]) == (3, 2, 0)
    expect = (
        math.floor(math.log(1 / 4) * LOG_SCALE + 0.5)
        + math.floor(math.log(0.4 * 2 / 10) * LOG_SCALE + 0.5)  # S(c)
        + math.floor(math.log(0.4 * 4 / 10) * LOG_SCALE + 0.5)  # S(b)
    )
    assert r["sum_qscore"] == expect

    r = out[12]
    assert r["n_oov"] == 1 and r["mean_logscore"] == float("-inf")

    # alpha smoothing rescues OOV backoff tokens
    sm = {
        r["doc_id"]: r
        for r in score_bigram(probe, m, "text", alpha=1.0).collect()
    }
    assert sm[12]["mean_logscore"] > float("-inf")
    m.unpersist()


# --- time-series resample + gap fill ---------------------------------------


def test_resample_gap_fill_strategies(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        gap_fill,
        resample,
    )

    rows = [
        ("a", "2024-01-01 00:01:00", 10.0),
        ("a", "2024-01-01 00:02:30", 20.0),
        ("a", "2024-01-01 00:06:00", 50.0),
        ("b", "2024-01-01 00:00:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "g string, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    r = resample(
        df, "ts", "1 minute", {"n": F.count("*"), "av": F.avg("v")}, ["g"]
    )
    base = {
        (x["g"], str(x["bucket"])): x
        for x in gap_fill(r, "1 minute", ["av"], ["g"]).collect()
    }
    # grid: a spans 6 buckets (3 gaps), b spans 1
    assert len(base) == 7
    assert base[("a", "2024-01-01 00:04:00")]["is_gap"] is True
    assert base[("a", "2024-01-01 00:04:00")]["av"] is None  # fill none

    zero = gap_fill(r, "1 minute", ["n"], ["g"], fill="zero").collect()
    assert sum(x["n"] for x in zero) == 4  # gaps add 0, not rows

    locf = {
        (x["g"], str(x["bucket"])): x["av"]
        for x in gap_fill(r, "1 minute", ["av"], ["g"], fill="locf").collect()
    }
    assert locf[("a", "2024-01-01 00:04:00")] == 20.0  # carried forward

    lin = {
        (x["g"], str(x["bucket"])): x["av"]
        for x in gap_fill(
            r, "1 minute", ["av"], ["g"], fill="linear"
        ).collect()
    }
    assert lin[("a", "2024-01-01 00:03:00")] == pytest.approx(27.5)
    assert lin[("a", "2024-01-01 00:04:00")] == pytest.approx(35.0)
    assert lin[("a", "2024-01-01 00:05:00")] == pytest.approx(42.5)

    with pytest.raises(ValueError, match="unknown fill"):
        gap_fill(r, "1 minute", ["av"], ["g"], fill="cubic")
    with pytest.raises(ValueError, match="unsupported interval"):
        resample(df, "ts", "1 fortnight", {"n": F.count("*")}, ["g"])


def test_canonical_dedup(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
        canonical_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO WORLD."),
            (4, "other text"),
            (5, "Other; TEXT"),
            (6, "unique"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in canonical_dedup(df, "text", "doc_id").collect()}
    assert set(out) == {1, 4, 6}
    assert out[1]["n_variants"] == 3
    assert out[4]["n_variants"] == 2
    assert out[6]["n_variants"] == 1
    # keep='max' flips the keeper, not the grouping
    mx = {r["doc_id"] for r in canonical_dedup(df, "text", "doc_id", keep="max").collect()}
    assert mx == {3, 5, 6}


def test_flatten_json_infers_and_expands(spark):
    from pyspark.sql.types import StructType

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.jsonops import (
        flatten_json,
        infer_json_schema,
    )

    df = spark.createDataFrame(
        [
            (1, '{"k": 7, "tag": "x"}'),
            (2, '{"k": 9}'),
            (3, "not json"),
            (4, None),
        ],
        "id long, props string",
    )
    out = flatten_json(df, "props")
    assert out.columns == ["id", "k", "tag"]
    rows = {r["id"]: r for r in out.collect()}
    assert (rows[1]["k"], rows[1]["tag"]) == (7, "x")
    assert rows[2]["tag"] is None
    assert rows[3]["k"] is None and rows[4]["k"] is None  # permissive

    # prefix avoids collisions; keep the raw column with drop=False
    out2 = flatten_json(df, "props", prefix="p_", drop=False)
    assert set(out2.columns) == {"id", "props", "p_k", "p_tag"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        flatten_json(df.withColumnRenamed("id", "k"), "props")

    # pinned schema path skips inference entirely
    s = infer_json_schema(df, "props")
    assert isinstance(s, StructType)
    assert flatten_json(df, "props", schema=s).columns == ["id", "k", "tag"]


def test_pq_codebook_persistence(spark, sf_small, tmp_path):
    """Fit once, persist in table properties, serve from the stored
    codebooks: identical results to the refit path (the fit is
    deterministic), zero fit jobs on the serve side."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        knn_pq,
        load_pq_codebooks,
        pq_fit,
        save_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)

    # normalize exactly the way knn_pq does before fitting
    from pyspark.sql import functions as _F

    def unit(c):
        n = _F.sqrt(
            _F.aggregate(
                _F.zip_with(c, c, lambda x, y: x * y),
                _F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        return _F.when(n > 0, _F.transform(c, lambda x: x / n)).otherwise(c)

    corpus_n = emb.select(
        "vec_id", unit(_F.col("embedding").cast("array<double>")).alias("embedding")
    )
    books = pq_fit(corpus_n, m=4, nbits=4)

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("v")
    t = cat.create_table("v.emb", emb.schema)
    save_pq_codebooks(t, books)
    loaded = load_pq_codebooks(t)
    assert loaded == books  # JSON round-trip is exact

    fresh = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in knn_pq(emb, q, k=3, m=4, nbits=4).collect()
    }
    served = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in knn_pq(emb, q, k=3, codebooks=loaded).collect()
    }
    assert served == fresh
    assert load_pq_codebooks(cat.load_table("v.emb")) == books


def test_ivf_centroid_persistence(spark, sf_small, tmp_path):
    """Serve IVF from persisted centroids: no ML fit on the serve path,
    recall within the fit path's ballpark (assignments use the same
    argmin; cell ids may permute, results stay neighbors)."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf,
        load_ivf_centroids,
        save_ivf_centroids,
    )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)

    feat = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    ).withColumn("features", array_to_vector("cv"))
    model = KMeans(k=8, seed=42, maxIter=10).fit(feat)
    cents = [list(map(float, c)) for c in model.clusterCenters()]

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("v")
    t = cat.create_table("v.emb2", emb.schema)
    save_ivf_centroids(t, cents)
    loaded = load_ivf_centroids(t)
    assert loaded == cents

    served = knn_ivf(emb, q, k=5, n_lists=8, n_probes=4, centroids=loaded)
    pairs = {(r["query_id"], r["neighbor_id"]) for r in served.collect()}
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, q, k=5).collect()
    }
    recall = len(pairs & brute) / len(brute)
    assert recall >= 0.3, f"served-IVF recall too low: {recall}"


def test_resample_edge_cases(spark):
    """Uppercase units parse, pre-epoch timestamps floor (pmod), and an
    input column named 'bucket' doesn't collide."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        resample,
        time_bucket,
    )

    df = spark.createDataFrame(
        [("a", "1969-12-31 23:30:00", 1.0, "x")],
        "g string, ts string, v double, bucket string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = resample(df, "ts", "1 HOUR", {"n": F.count("*")}, ["g"]).collect()
    assert str(out[0]["bucket"]) == "1969-12-31 23:00:00"  # floored DOWN
    r15 = resample(df, "ts", "15 MINUTES", {"n": F.count("*")}, ["g"])
    assert str(r15.first()["bucket"]) == "1969-12-31 23:30:00"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="output column"):
        resample(df, "ts", "1 hour", {"n": F.count("*")}, ["bucket"])


def test_funnel_semantics(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.funnel import (
        funnel,
    )

    rows = [
        (1, "view", "2024-01-01 00:00:00"),
        (1, "cart", "2024-01-01 00:10:00"),
        (1, "buy", "2024-01-01 00:20:00"),
        (2, "view", "2024-01-01 01:00:00"),
        (2, "buy", "2024-01-01 01:05:00"),  # skipped cart: stops at 1
        (3, "cart", "2024-01-01 02:00:00"),  # cart BEFORE view ignored
        (3, "view", "2024-01-01 02:10:00"),
        (3, "cart", "2024-01-01 02:20:00"),
        (4, "view", "2024-01-01 03:00:00"),
        (4, "cart", "2024-01-01 03:10:00"),
        (4, "buy", "2024-01-01 05:00:00"),  # outside the 1h window
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["user_id"]: r
        for r in funnel(df, ["view", "cart", "buy"], within="1 hour").collect()
    }
    assert out[1]["steps_completed"] == 3
    assert out[2]["steps_completed"] == 1 and out[2]["step_2_ts"] is None
    # ordering: only the cart AFTER the view counts
    assert str(out[3]["step_2_ts"]) == "2024-01-01 02:20:00"
    assert out[3]["steps_completed"] == 2
    # window: partial progress reported, final step nulled
    assert out[4]["steps_completed"] == 2 and out[4]["step_3_ts"] is None
    # unbounded window keeps user 4's buy
    unb = {
        r["user_id"]: r["steps_completed"]
        for r in funnel(df, ["view", "cart", "buy"]).collect()
    }
    assert unb[4] == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one step"):
        funnel(df, [])


def test_cohort_retention(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.funnel import (
        cohort_retention,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-02 09:00:00"),
        (1, "2024-01-04 09:00:00"),
        (2, "2024-01-01 23:00:00"),
        (3, "2024-01-02 01:00:00"),
        (3, "2024-01-03 01:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        (str(r["cohort"])[:10], r["age"]): r["n_active"]
        for r in cohort_retention(df, period="1 day").collect()
    }
    assert got[("2024-01-01", 0)] == 2  # users 1, 2 on day 0
    assert got[("2024-01-01", 1)] == 1  # user 1 returns day 1
    assert got[("2024-01-01", 3)] == 1  # user 1 returns day 3
    assert got[("2024-01-02", 0)] == 1  # user 3's cohort
    assert got[("2024-01-02", 1)] == 1
    assert ("2024-01-01", 2) not in got  # nobody active that day


def test_expectations_suite_one_pass(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.expectations import (
        between,
        completeness,
        in_set,
        matches,
        run_checks,
        size,
        uniqueness,
    )

    df = spark.createDataFrame(
        [
            (1, "a@x.com", "eu", 10),
            (2, "b@y.com", "us", 20),
            (3, None, "eu", 200),
            (3, "d@z.com", "mars", 30),
        ],
        "uid long, email string, region string, v long",
    )
    out = {
        r["check"]: (r["metric"], r["passed"])
        for r in run_checks(
            df,
            [
                completeness("email", min_ratio=0.9),
                completeness("uid"),
                uniqueness("uid"),
                between("v", 0, 100),
                matches("email", r"^[^@]+@[^@]+$"),
                in_set("region", ["eu", "us"]),
                size(min_rows=2, max_rows=10),
            ],
        ).collect()
    }
    assert out["completeness(email)"] == (0.75, False)  # 3/4 < 0.9
    assert out["completeness(uid)"] == (1.0, True)
    assert out["uniqueness(uid)"][1] is False  # uid 3 duplicated
    assert out["between(v)"] == (1.0, False)  # one out-of-range value
    assert out["matches(email)"] == (1.0, True)  # nulls excluded
    assert out["in_set(region)"] == (1.0, False)  # 'mars'
    assert out["size"] == (4.0, True)


def test_rolling_zscore(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        rolling_zscore,
    )

    vals = [10.0] * 10 + [50.0, 10.0]
    rows = [
        ("a", f"2024-01-01 00:{i:02d}:00", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "g string, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = rolling_zscore(
        df, "v", "ts", ["g"], window=8, min_periods=4
    ).orderBy("ts").collect()
    # warm-up rows and zero-variance baselines stay NULL / not anomalous
    assert out[3]["zscore"] is None and out[3]["is_anomaly"] is False
    assert out[9]["zscore"] is None  # baseline all-equal: zero variance
    assert out[9]["is_anomaly"] is False  # value matches the flat baseline
    # flat baseline broken by a different value: z undefined, flag fires
    assert out[10]["zscore"] is None and out[10]["is_anomaly"] is True
    assert out[11]["is_anomaly"] is False  # spike joined the baseline


def test_rolling_zscore_overflow_guard(spark):
    """|value| past isqrt(LongMax/window)/scale would silently wrap the
    BIGINT sum-of-squares (ANSI off) - the operator must raise loudly
    instead of emitting wrong scores (VERDICT r7 #2)."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        rolling_zscore,
    )

    # |d| = 3100*1e6 = 3.1e9 > 679_093_956: single d*d already wraps
    rows = [
        ("a", f"2024-01-01 00:{i:02d}:00", 3100.0) for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, "g string, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    with _pytest.raises(Exception, match="overflow|rolling_zscore"):
        rolling_zscore(df, "v", "ts", ["g"]).collect()
    # same magnitudes at a lower scale are in-domain and score correctly
    big = [3100.0] * 10 + [9900.0]
    rows2 = [
        ("a", f"2024-01-01 00:{i:02d}:00", v) for i, v in enumerate(big)
    ]
    df2 = spark.createDataFrame(
        rows2, "g string, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = (
        rolling_zscore(df2, "v", "ts", ["g"], scale=1000)
        .orderBy("ts")
        .collect()
    )
    # flat baseline broken by the 9900 spike: flag fires, z undefined
    assert out[10]["zscore"] is None and out[10]["is_anomaly"] is True


def test_expectations_vacuous_on_empty(spark):
    """NULL metrics (empty frame / all-NULL column) pass vacuously with
    a NULL metric - size() is the explicit non-emptiness gate."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.expectations import (
        completeness,
        matches,
        run_checks,
        size,
        uniqueness,
    )

    empty = spark.createDataFrame([], "uid long, email string")
    out = {
        r["check"]: (r["metric"], r["passed"])
        for r in run_checks(
            empty,
            [
                uniqueness("uid"),
                matches("email", ".*"),
                completeness("email"),
                size(min_rows=1),
            ],
        ).collect()
    }
    assert out["uniqueness(uid)"] == (None, True)
    assert out["matches(email)"] == (None, True)
    assert out["size"] == (0.0, False)  # the explicit emptiness gate
    # all-NULL column: regex check vacuous, completeness 0 and failing
    nulls = spark.createDataFrame([(1, None)], "uid long, email string")
    out2 = {
        r["check"]: (r["metric"], r["passed"])
        for r in run_checks(
            nulls, [matches("email", ".*"), completeness("email")]
        ).collect()
    }
    assert out2["matches(email)"] == (None, True)
    assert out2["completeness(email)"] == (0.0, False)


def test_rolling_zscore_null_values_flow_through(spark):
    """NULL inputs must not trip the overflow guard (CASE on a NULL
    comparison falls to otherwise): they flow through, score NULL,
    and never flag (r8 review finding)."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        rolling_zscore,
    )

    vals = [10.0, 11.0, None, 12.0, 10.5, 11.5, None, 11.0]
    rows = [
        ("a", f"2024-01-01 00:{i:02d}:00", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "g string, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = (
        rolling_zscore(df, "v", "ts", ["g"], window=5, min_periods=3)
        .orderBy("ts")
        .collect()
    )
    assert len(out) == 8  # no raise_error fired
    for i in (2, 6):  # the NULL rows: no score, no flag
        assert out[i]["zscore"] is None
        assert out[i]["is_anomaly"] is False


def test_ohlc_bars_with_vwap_and_ties(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        ohlc_bars,
    )

    rows = [
        # (id, ts, sym, price, vol) - two symbols, colliding timestamps
        (1, "2024-01-01 00:00:05", "A", 10.0, 2.0),
        (2, "2024-01-01 00:00:05", "A", 11.0, 1.0),  # tie on ts: id wins
        (3, "2024-01-01 00:00:40", "A", 9.0, 3.0),
        (4, "2024-01-01 00:01:10", "A", 12.0, 0.0),  # zero-volume bar
        (5, "2024-01-01 00:00:20", "B", 100.0, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, sym string, price double, vol double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["sym"], str(r["bucket"])): r
        for r in ohlc_bars(
            df, "ts", "price", "1 minute",
            group_cols=["sym"], volume_col="vol", tiebreak_col="event_id",
        ).collect()
    }
    a0 = out[("A", "2024-01-01 00:00:00")]
    assert (a0["open"], a0["high"], a0["low"], a0["close"]) == (
        10.0, 11.0, 9.0, 9.0,  # open = earliest (ts, id); close = latest
    )
    assert a0["n_ticks"] == 3 and a0["volume"] == 6.0
    assert a0["vwap"] == (10.0 * 2 + 11.0 * 1 + 9.0 * 3) / 6.0
    a1 = out[("A", "2024-01-01 00:01:00")]
    assert a1["vwap"] is None  # zero volume: ANSI-safe NULL, no crash
    b0 = out[("B", "2024-01-01 00:00:00")]
    assert (b0["open"], b0["close"], b0["n_ticks"]) == (100.0, 100.0, 1)
    # NULL-price ticks: counted in n_ticks/volume, excluded from every
    # price-derived number (open/close/high/low AND both vwap sides)
    rows2 = [
        (1, "2024-01-01 00:00:05", "C", None, 5.0),
        (2, "2024-01-01 00:00:30", "C", 10.0, 1.0),
        (3, "2024-01-01 00:00:50", "C", None, 9.0),
    ]
    df2 = spark.createDataFrame(
        rows2, "event_id long, ts string, sym string, price double, vol double"
    ).withColumn("ts", F.to_timestamp("ts"))
    c0 = ohlc_bars(
        df2, "ts", "price", "1 minute",
        group_cols=["sym"], volume_col="vol", tiebreak_col="event_id",
    ).collect()[0]
    assert (c0["open"], c0["high"], c0["low"], c0["close"]) == (
        10.0, 10.0, 10.0, 10.0,
    )
    assert c0["n_ticks"] == 3 and c0["volume"] == 15.0
    assert c0["vwap"] == 10.0  # unquoted volume must not dilute
    # 'bucket' collides with a group column -> loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket"):
        ohlc_bars(
            df.withColumnRenamed("sym", "bucket"), "ts", "price",
            "1 minute", group_cols=["bucket"],
        )


# -- detect_gaps (per-series silence detection) ---------------------------


def test_detect_gaps_known_series(spark):
    import datetime as dt

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        detect_gaps,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        # device a: events at 0h, 1h, 9h (8h gap), 9h30
        ("a", base),
        ("a", base + dt.timedelta(hours=1)),
        ("a", base + dt.timedelta(hours=9)),
        ("a", base + dt.timedelta(hours=9, minutes=30)),
        # device b: one 30h gap
        ("b", base),
        ("b", base + dt.timedelta(hours=30)),
        # device c: single event - no pair, no gap
        ("c", base),
    ]
    df = spark.createDataFrame(rows, "dev string, ts timestamp")
    got = {
        (r["dev"], r["gap_start"], r["gap_end"], r["gap_us"])
        for r in detect_gaps(
            df, "ts", "6 hours", group_cols=["dev"]
        ).collect()
    }
    assert got == {
        (
            "a",
            base + dt.timedelta(hours=1),
            base + dt.timedelta(hours=9),
            8 * 3600 * 1_000_000,
        ),
        ("b", base, base + dt.timedelta(hours=30), 30 * 3600 * 1_000_000),
    }


def test_detect_gaps_exact_threshold_and_ties(spark):
    """A spacing EQUAL to min_gap is not a gap (strict >); duplicate
    timestamps contribute zero diffs and never break a real gap."""
    import datetime as dt

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        detect_gaps,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("a", base),
        ("a", base + dt.timedelta(hours=6)),  # exactly 6h: not a gap
        ("a", base + dt.timedelta(hours=6)),  # tie
        ("a", base + dt.timedelta(hours=13)),  # 7h after the tie pair
    ]
    df = spark.createDataFrame(rows, "dev string, ts timestamp")
    got = detect_gaps(df, "ts", "6 hours", group_cols=["dev"]).collect()
    assert len(got) == 1
    assert got[0]["gap_start"] == base + dt.timedelta(hours=6)
    assert got[0]["gap_us"] == 7 * 3600 * 1_000_000


def test_detect_gaps_null_ts_ignored(spark):
    import datetime as dt

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        detect_gaps,
    )

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", None), ("a", base), ("a", base + dt.timedelta(hours=8))],
        "dev string, ts timestamp",
    )
    got = detect_gaps(df, "ts", "6 hours", group_cols=["dev"]).collect()
    assert [(r["gap_start"], r["gap_end"]) for r in got] == [
        (base, base + dt.timedelta(hours=8))
    ]


# -- train/val/test split --------------------------------------------------


def test_split_deterministic_partition_and_weights(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
        train_val_test_split,
    )
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(F.col("id").alias("k"))
    out = train_val_test_split(df, "k")
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20_000  # a partition, no loss/dup
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.02
    # deterministic run-to-run
    a = {(r["k"], r["split"]) for r in out.collect()}
    b = {
        (r["k"], r["split"])
        for r in train_val_test_split(df, "k").collect()
    }
    assert a == b
    # salt re-rolls without changing the contract
    c = {
        (r["k"], r["split"])
        for r in train_val_test_split(df, "k", salt="v2").collect()
    }
    assert c != a and len(c) == 20_000


def test_split_groups_share_assignment_and_append_stable(spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
        train_val_test_split,
    )
    from pyspark.sql import functions as F

    df = spark.range(5_000).select(
        (F.col("id") % 37).alias("g"), F.col("id")
    )
    out = train_val_test_split(df, "g").groupBy("g").agg(
        F.countDistinct("split").alias("k")
    )
    assert out.agg(F.max("k")).first()[0] == 1  # leakage-safe
    # append-stable: the same keys keep their split on a grown table
    small = {
        r["g"]: r["split"]
        for r in train_val_test_split(
            spark.range(1_000).select((F.col("id") % 37).alias("g")), "g"
        ).collect()
    }
    big = {
        r["g"]: r["split"]
        for r in train_val_test_split(df, "g").select("g", "split")
        .distinct().collect()
    }
    for g, sp in small.items():
        assert big[g] == sp


def test_split_weight_validation(spark):
    import pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
        train_val_test_split,
    )

    df = spark.range(10)
    with pytest.raises(ValueError, match="sum to 1"):
        train_val_test_split(df, "id", {"a": 0.5, "b": 0.1})
    with pytest.raises(ValueError, match="non-negative"):
        train_val_test_split(df, "id", {"a": 1.5, "b": -0.5})
    with pytest.raises(ValueError, match="non-empty"):
        train_val_test_split(df, "id", {})
    # single-band degenerate form still labels everything
    out = train_val_test_split(df, "id", {"all": 1.0})
    assert {r["split"] for r in out.collect()} == {"all"}


def test_split_zero_weight_band_gets_nothing(spark):
    """A label weighted 0 must receive ZERO rows - the trailing-zero
    case pushed the cumulative threshold to a 9-hex-char string that
    compared wrong and handed it the previous band's rows (review
    finding)."""
    from pyspark.sql import functions as F

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.sampling import (
        train_val_test_split,
    )

    df = spark.range(10_000).select(F.col("id").alias("k"))
    out = train_val_test_split(
        df, "k", {"train": 0.9, "val": 0.1, "test": 0.0}
    )
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert "test" not in counts
    assert abs(counts["val"] / 10_000 - 0.1) < 0.02
    assert counts["train"] + counts["val"] == 10_000
    # zero-weight in the middle behaves the same
    out2 = train_val_test_split(
        df, "k", {"train": 0.9, "gone": 0.0, "val": 0.1}
    )
    c2 = {
        r["split"]: r["n"]
        for r in out2.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert "gone" not in c2 and c2["train"] + c2["val"] == 10_000


# -- OPQ rotation (parametric, eigenvalue-balanced) ------------------------


def test_opq_rotation_orthonormal_and_balanced(spark):
    import numpy as np

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        opq_rotation,
    )

    rng = np.random.default_rng(19)
    # strongly anisotropic + correlated: mix independent scaled dims
    dim, m = 16, 4
    scales = np.linspace(5.0, 0.1, dim)
    A = rng.standard_normal((dim, dim))
    X = (rng.standard_normal((400, dim)) * scales) @ A
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    R = np.asarray(opq_rotation(df, m=m))
    assert R.shape == (dim, dim)
    np.testing.assert_allclose(R @ R.T, np.eye(dim), atol=1e-8)
    # balanced IN THE SPACE PQ QUANTIZES (knn_pq L2-normalizes before
    # rotating/encoding) and in the OBJECTIVE the greedy minimizes:
    # Ge et al. balance the per-subspace eigenvalue PRODUCT (subspace
    # distortion scales with (prod lambda)^(1/ds)), so the log-product
    # spread must be far tighter than the PCA-contiguous allocation's
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Y = (Xn - Xn.mean(axis=0)) @ R.T
    ds = dim // m
    lv = np.log(Y.var(axis=0))
    bal_spread = np.ptp(lv.reshape(m, ds).sum(axis=1))
    # PCA-contiguous comparison: same directions, eigen order
    order = np.argsort(-Y.var(axis=0))
    pca_spread = np.ptp(lv[order].reshape(m, ds).sum(axis=1))
    assert bal_spread < pca_spread / 5, (bal_spread, pca_spread)


def test_knn_pq_rotation_recall_and_exact_sims(spark):
    """With an OPQ rotation the reported sims stay EXACT (rotation is
    an isometry; the refine re-scores true vectors) and recall on
    correlated data is at least as good as unrotated PQ up to noise."""
    import numpy as np

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        knn_bruteforce,
        knn_pq,
        opq_rotation,
    )

    rng = np.random.default_rng(23)
    dim = 16
    scales = np.linspace(4.0, 0.2, dim)
    A = rng.standard_normal((dim, dim))
    X = (rng.standard_normal((300, dim)) * scales) @ A
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"], round(r["sim"], 9))
        for r in knn_bruteforce(df, q, k=5).collect()
    }
    e_pairs = {(a, b) for a, b, _ in exact}
    R = opq_rotation(df, m=4)
    rot = knn_pq(df, q, k=5, m=4, nbits=4, rotation=R)
    rot_rows = rot.collect()
    r_pairs = {(r["query_id"], r["neighbor_id"]) for r in rot_rows}
    recall_rot = len(e_pairs & r_pairs) / len(e_pairs)
    plain = knn_pq(df, q, k=5, m=4, nbits=4)
    p_pairs = {
        (r["query_id"], r["neighbor_id"]) for r in plain.collect()
    }
    recall_plain = len(e_pairs & p_pairs) / len(e_pairs)
    assert recall_rot >= 0.5, f"rotated recall {recall_rot:.2f}"
    assert recall_rot >= recall_plain - 0.1, (recall_rot, recall_plain)
    # sims of reported pairs are the true cosines (isometry + refine)
    exact_sim = {
        (a, b): s for a, b, s in exact
    }
    for r in rot_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sim:
            assert abs(r["sim"] - exact_sim[key]) < 1e-9


def test_pq_rotation_persistence(spark, tmp_path):
    import numpy as np

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        load_pq_rotation,
        save_pq_rotation,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    t = cat.create_table(
        "g.vecs",
        spark.createDataFrame(
            [], "vec_id long, embedding array<double>"
        ).schema,
    )
    R = [[1.0, 0.0], [0.0, 1.0]]
    assert load_pq_rotation(t) is None
    save_pq_rotation(t, R)
    assert load_pq_rotation(cat.load_table("g.vecs")) == R


def test_opq_fit_alternating_improves_objective(spark):
    """r9 OPQ-NP (Ge et al. Algorithm 2): the alternating Procrustes /
    codebook-refit loop must (a) return an orthonormal rotation, (b)
    never worsen the sample quantization error across iterations
    beyond float noise, (c) end at or below the parametric
    eigenvalue-allocation baseline it initializes from (errors[0]),
    and (d) drive the unchanged distributed serve path with EXACT
    reported sims."""
    import numpy as np

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.similarity import (
        knn_bruteforce,
        knn_pq,
        opq_fit,
    )

    rng = np.random.default_rng(31)
    dim = 16
    scales = np.linspace(4.0, 0.2, dim)
    A = rng.standard_normal((dim, dim))
    X = (rng.standard_normal((300, dim)) * scales) @ A
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    R, books, errs = opq_fit(df, m=4, nbits=4, n_iters=4)
    Rn = np.asarray(R)
    np.testing.assert_allclose(Rn @ Rn.T, np.eye(dim), atol=1e-8)
    assert len(books) == 4 and len(books[0]) == 16
    # each full iteration's error is <= the previous one's (each half-
    # step is an exact argmin given the other; tiny float slack)
    for a, b in zip(errs, errs[1:]):
        assert b <= a + 1e-9, errs
    assert errs[-1] <= errs[0] + 1e-12, errs
    # determinism: same corpus -> identical fit
    R2, books2, errs2 = opq_fit(df, m=4, nbits=4, n_iters=4)
    assert R == R2 and books == books2 and errs == errs2
    # the trained pair serves through knn_pq unchanged, sims exact
    q = df.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"]): round(r["sim"], 9)
        for r in knn_bruteforce(df, q, k=5).collect()
    }
    got = knn_pq(
        df, q, k=5, m=4, nbits=4, rotation=R, codebooks=books
    ).collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(set(exact) & pairs) / len(exact)
    assert recall >= 0.5, f"opq-np recall {recall:.2f}"
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(round(r["sim"], 9) - exact[key]) < 1e-8


def test_dsir_importance_resampling(spark):
    """DSIR (Xie et al. 2023): hashed-ngram importance weights rank
    target-like documents above off-domain ones, the fit is a bounded
    bucket table, selection is deterministic (and the Gumbel variant
    reproducible), and the plan is a pure projection (no shuffle
    before the top-k)."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dsir import (
        dsir_fit,
        dsir_logweights,
        dsir_select,
    )

    med = [
        "patient dose mg treatment clinical trial",
        "clinical patient symptoms diagnosis dose",
        "treatment outcome patient trial dose mg",
    ]
    web = [
        "buy cheap shoes online free shipping",
        "celebrity gossip news today viral video",
        "football match score goals league table",
    ]
    target = spark.createDataFrame(
        [(i, t) for i, t in enumerate(med)], "doc_id long, text string"
    )
    raw_rows = (
        [(100 + i, t) for i, t in enumerate(web * 3)]
        + [(200, "patient clinical dose trial treatment"),
           (201, "dose patient mg clinical outcome")]
    )
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    lr = dsir_fit(target, raw, n_buckets=512)
    assert len(lr) == 512
    w = dsir_logweights(raw, lr)
    rows = {r["doc_id"]: r["dsir_logw"] for r in w.collect()}
    # every medical doc outranks every web doc
    assert min(rows[200], rows[201]) > max(
        v for k, v in rows.items() if k < 200
    )
    sel = dsir_select(raw, lr, k=2)
    assert {r["doc_id"] for r in sel.collect()} == {200, 201}
    # deterministic across runs; gumbel variant reproducible too
    sel2 = dsir_select(raw, lr, k=2)
    assert [r["doc_id"] for r in sel.collect()] == [
        r["doc_id"] for r in sel2.collect()
    ]
    g1 = [r["doc_id"] for r in dsir_select(raw, lr, k=5, gumbel=True).collect()]
    g2 = [r["doc_id"] for r in dsir_select(raw, lr, k=5, gumbel=True).collect()]
    assert g1 == g2 and len(g1) == 5
    # single-token and empty docs survive the bigram path
    edge = spark.createDataFrame(
        [(1, "solo"), (2, "")], "doc_id long, text string"
    )
    assert dsir_logweights(edge, lr).count() == 2
    # plan check: the weight pass is projection-only (no Exchange
    # before the TakeOrderedAndProject the top-k compiles to)
    plan = sel._sc is not None and sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_dsir_arrow_matches_catalyst_exactly(spark, sf_small):
    """r15: the default-sep DSIR weight pass moved to an Arrow
    pandas_udf (grams hashed once per doc, bounded per-task md5 memo -
    the r14 classifier pattern, VERDICT r14 #8). The weights must be
    BIT-IDENTICAL to the pure-Catalyst fold - q8e's judged selection
    orders by them - so compare both paths over the fixture corpus plus
    adversarial shapes (empty text, multi-space runs, repeated tokens,
    NULL, single token) for uni- and bigram models, and assert the
    selected ids are unchanged."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dsir import (
        dsir_fit,
        dsir_logweights,
        dsir_select,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    weird = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "  leading  and  double  spaces "),
            (9003, "spam spam spam spam"),
            (9004, None),
            (9005, "one"),
        ],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(weird)
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    for ngrams in [(1,), (1, 2)]:
        lr = dsir_fit(target, corpus, ngrams=ngrams, n_buckets=512)
        # the public entry takes the Arrow path for sep == " "
        arrow_df = dsir_logweights(corpus, lr, ngrams=ngrams)
        assert "ArrowEvalPython" in (
            arrow_df._jdf.queryExecution().executedPlan().toString()
        )
        arrow = {r["doc_id"]: r["dsir_logw"] for r in arrow_df.collect()}
        # Catalyst reference: sep spelled as the regex class "[ ]"
        # splits identically but routes down the pure-fold branch
        reference = {
            r["doc_id"]: r["dsir_logw"]
            for r in dsir_logweights(
                corpus, lr, sep="[ ]", ngrams=ngrams
            ).collect()
        }
        assert set(arrow) == set(reference)
        for k in reference:
            assert arrow[k] == reference[k], (
                f"ngrams={ngrams} doc {k}: arrow {arrow[k]!r} != "
                f"catalyst {reference[k]!r}"
            )
        # selection identical (both orderings, incl. the Gumbel one)
        sel_a = [
            r["doc_id"]
            for r in dsir_select(corpus, lr, k=5, ngrams=ngrams).collect()
        ]
        sel_c = [
            r["doc_id"]
            for r in dsir_select(
                corpus, lr, k=5, sep="[ ]", ngrams=ngrams
            ).collect()
        ]
        assert sel_a == sel_c


def test_dsir_rejects_gram_orders_other_than_1_and_2(spark):
    """Only unigrams and bigrams are modeled: (1, 3) must raise on both
    the Arrow path (single-space sep) and the Catalyst path, not count
    bigrams twice."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dsir import (
        dsir_fit,
        dsir_logweights,
        dsir_select,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="ngrams"):
        dsir_fit(docs, docs, ngrams=(1, 3), n_buckets=16)
    lr = dsir_fit(docs, docs, ngrams=(1, 2), n_buckets=16)
    for sep in (" ", "[ ]"):
        with pytest.raises(ValueError, match="ngrams"):
            dsir_logweights(docs, lr, sep=sep, ngrams=(1, 3))
        with pytest.raises(ValueError, match="ngrams"):
            dsir_select(docs, lr, k=1, sep=sep, ngrams=(3,))


def test_quality_classifier_rejects_gram_orders_other_than_1_and_2(spark):
    """The classifier shares dsir's gram function, which models unigrams
    and bigrams only: (1, 3) must raise in fit and in both scoring
    paths (Arrow on a single-space sep, Catalyst otherwise) instead of
    counting bigrams twice."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.quality_classifier import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    docs = spark.createDataFrame(
        [(1, "a b c", 1), (2, "b c d", 0)], "doc_id long, text string, label int"
    )
    with pytest.raises(ValueError, match="ngrams"):
        quality_classifier_fit(docs, "label", ngrams=(1, 3), n_buckets=16)
    model = quality_classifier_fit(
        docs, "label", ngrams=(1, 2), n_buckets=16, iters=5
    )
    for sep in (" ", "[ ]"):
        bad = {**model, "sep": sep, "ngrams": (1, 3)}
        with pytest.raises(ValueError, match="ngrams"):
            quality_classifier_score(docs, bad)


def test_quality_classifier_filtering(spark):
    """r10 quality-classifier curation (GPT-3 Appendix A / LLaMA
    pattern): a hashed-feature logistic regression fit driver-side on
    a deterministic sample separates reference-like from junk text,
    scoring is a pure projection, the hard threshold keeps the good
    slice, and the Pareto acceptance keeps a reproducible long tail."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.quality_classifier import (
        quality_classifier_fit,
        quality_classifier_score,
        quality_filter,
    )

    good = [
        "the committee published its annual report on climate policy",
        "researchers measured the effect of treatment on patient outcomes",
        "the council approved a detailed budget for public transport",
        "historians documented the economic causes of the crisis",
    ]
    junk = [
        "click here buy now cheap cheap deals deals",
        "win win win free prize click subscribe now",
        "hot singles online click now free free",
        "zzz qqq xxx spam spam spam click click",
    ]
    rows = [(i, t, 1) for i, t in enumerate(good * 3)] + [
        (100 + i, t, 0) for i, t in enumerate(junk * 3)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    )
    model = quality_classifier_fit(
        df, "label", n_buckets=256, sample=100, iters=200
    )
    assert len(model["w"]) == 256
    scored = quality_classifier_score(df, model)
    by_label = {
        r["label"]: r["m"]
        for r in scored.groupBy("label")
        .agg(F.avg("quality_score").alias("m"))
        .collect()
    }
    assert by_label[1] > by_label[0]  # separation
    # hard threshold: every kept doc scores above it
    kept = quality_filter(df, model, threshold=0.0)
    assert kept.filter("label = 0").count() < df.filter("label = 0").count()
    assert kept.filter("quality_score <= 0").count() == 0
    # unseen text scores by its words (no leakage from doc identity)
    unseen = spark.createDataFrame(
        [(900, "the committee report on policy outcomes"),
         (901, "click click free free spam now")],
        "doc_id long, text string",
    )
    s = {
        r["doc_id"]: r["quality_score"]
        for r in quality_classifier_score(unseen, model).collect()
    }
    assert s[900] > s[901]
    # Pareto acceptance: reproducible, keeps everything the hard
    # threshold keeps plus a sub-threshold tail
    p1 = {r["doc_id"] for r in quality_filter(
        df, model, threshold=0.0, pareto_alpha=0.5).collect()}
    p2 = {r["doc_id"] for r in quality_filter(
        df, model, threshold=0.0, pareto_alpha=0.5).collect()}
    assert p1 == p2
    hard = {r["doc_id"] for r in kept.collect()}
    assert hard <= p1
    # the scoring plan is a pure projection - no shuffle (Exchange)
    plan = quality_classifier_score(df, model)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
    # fit determinism: same inputs, same weights
    model2 = quality_classifier_fit(
        df, "label", n_buckets=256, sample=100, iters=200
    )
    assert model2["w"] == model["w"] and model2["b"] == model["b"]
    # calibration (r10 review): scoring normalizes by the EXACT L2 of
    # the term-frequency vector, so a doc that repeats one gram k
    # times scores identically to the single-gram doc (a sqrt(count)
    # normalization would inflate it sqrt(k)-fold)
    rep = spark.createDataFrame(
        [(1, "spam"), (2, " ".join(["spam"] * 8))],
        "doc_id long, text string",
    )
    rs = {
        r["doc_id"]: r["quality_score"]
        for r in quality_classifier_score(rep, model).collect()
    }
    assert abs(rs[1] - rs[2]) < 1e-9


def test_quality_classifier_arrow_matches_catalyst_exactly(spark, sf_small):
    """r14: the default-sep scoring path moved to an Arrow pandas_udf
    (one gram pass per doc instead of two, per-task token->bucket
    cache). The scores must be BIT-IDENTICAL to the pure-Catalyst fold
    - judged queries (q8l/q8v/q8z) hash them - so compare both paths
    over the fixture corpus plus the adversarial shapes (empty text,
    multi-space runs, repeated tokens, NULL) for uni- and bigram
    models."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.quality_classifier import (
        quality_classifier_fit,
        quality_classifier_score,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    weird = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "  leading  and  double  spaces "),
            (9003, "spam spam spam spam"),
            (9004, None),
            (9005, "one"),
        ],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(weird)
    for ngrams in [(1,), (1, 2)]:
        model = quality_classifier_fit(
            docs.withColumn("__label", (F.col("lang") == "en").cast("int")),
            "__label",
            ngrams=ngrams,
            sample=200,
            iters=50,
        )
        assert model["sep"] == " "
        # the public entry takes the Arrow path for sep == " "
        arrow = {
            r["doc_id"]: r["quality_score"]
            for r in quality_classifier_score(corpus, model).collect()
        }
        assert "ArrowEvalPython" in (
            quality_classifier_score(corpus, model)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # Catalyst reference: sep spelled as the regex class "[ ]"
        # splits identically but routes down the pure-fold branch
        reference = {
            r["doc_id"]: r["quality_score"]
            for r in quality_classifier_score(
                corpus, {**model, "sep": "[ ]"}
            ).collect()
        }
        assert set(arrow) == set(reference)
        for k in reference:
            assert arrow[k] == reference[k], (
                f"ngrams={ngrams} doc {k}: arrow {arrow[k]!r} != "
                f"catalyst {reference[k]!r}"
            )
