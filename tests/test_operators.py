"""Operator-level accuracy tests for the approximate (oracle-less)
operators: MinHash-LSH recall vs exact Jaccard, LSH-ANN recall on
planted near-duplicates, SimHash agreement, dedup helpers.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandabase_spark.operators.dedup import (
    dedup_by_content_hash,
    dedup_exact,
    duplicate_groups,
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from pandabase_spark.operators.similarity import ann_topk_lsh, cosine_topk
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_minhash_recall_vs_exact(docs):
    """On the driver data's high-similarity planted pairs (j ≈ 0.97)
    the banding S-curve gives P(candidate) ≈ 1 — recall must be 1.0."""
    exact = {
        (r.id_1, r.id_2)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    lsh = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        .select("id_1", "id_2")
        .collect()
    }
    assert exact, "driver data should contain planted near-dups"
    assert lsh == exact  # verified candidates == exact pairs


def test_minhash_no_verify_superset(docs):
    """Unverified candidates ⊇ verified pairs (banding may overshoot,
    verification filters)."""
    cand = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, verify=False
        ).collect()
    }
    verified = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        .select("id_1", "id_2")
        .collect()
    }
    assert verified <= cand


def test_simhash_finds_planted_pairs(docs):
    """SimHash Hamming ≤ 3 should overlap heavily with the exact
    near-dup set (different fingerprint family, same planted dups)."""
    exact = {
        (r.id_1, r.id_2)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    sh = {
        (r.id_1, r.id_2)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert exact
    assert len(sh & exact) / len(exact) >= 0.6


def test_ann_recall_on_planted_neighbors(spark):
    """Plant exact near-duplicate vectors; ANN must find them (that is
    the regime hyperplane LSH serves — near-identical vectors, tiny
    angle → same bucket with high probability)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.limit(10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda v: v.cast("double") * 1.000001
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    ).unionByName(base)
    queries = base.withColumnRenamed("vec_id", "qid")
    got = ann_topk_lsh(
        corpus, queries, id_col="vec_id", vec_col="embedding",
        query_id_col="qid", k=1, planes=8, probe_hamming=1,
    )
    hits = got.where(F.col("vec_id") == F.col("query_id") - 100000).count()
    assert hits >= 9  # ≥90% recall on true near-dups


def test_embedding_near_dup_lsh_finds_planted(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    )
    planted = emb.limit(5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    all_vecs = emb.unionByName(planted)
    pairs = embedding_near_dup_pairs(
        all_vecs, "vec_id", "embedding", threshold=0.999, planes=8
    )
    found = {(r.id_1, r.id_2) for r in pairs.collect()}
    expect = {(i, i + 100000) for i in range(5)}
    assert expect <= found


def test_ivf_neardup_pairs_recall_and_parity(spark):
    """IVF-bucketed semantic near-dup: planted exact near-duplicates
    must all surface (their cosine ~1 puts both vectors in the same
    nearest cells), candidates stay cell-confined, a prebuilt
    quantizer returns the same pairs as the one trained inside, and
    the top-1 of the multi-assignment is ivf_assign's cell."""
    from pandabase_spark.operators.similarity import (
        _with_cells_topn, ivf_assign, ivf_centroids, ivf_neardup_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias(
            "embedding"
        ),
    )
    planted = emb.limit(5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    pairs = ivf_neardup_pairs(
        corpus, threshold=0.999, n_cells=8, nassign=2
    )
    found = {(r.id_1, r.id_2) for r in pairs.collect()}
    expect = {(i, i + 100000) for i in range(5)}
    assert expect <= found
    # sanity on the threshold: every returned pair really is >= 0.999
    assert pairs.where(F.col("cosine") < 0.999).count() == 0

    # a prebuilt quantizer is the one the operator would train itself
    lit_c = ivf_centroids(corpus, n_cells=8)
    prebuilt = {
        (r.id_1, r.id_2)
        for r in ivf_neardup_pairs(
            corpus, threshold=0.999, centroids=lit_c
        ).collect()
    }
    assert prebuilt == found
    # top-1 of the multi-assignment equals ivf_assign's cell
    top1 = _with_cells_topn(corpus, "embedding", lit_c, 1).select(
        "vec_id", F.element_at("cells", 1).alias("cell")
    )
    ref = ivf_assign(corpus, lit_c).select("vec_id", "cell")
    assert top1.exceptAll(ref).count() == 0


def test_approx_distinct_within_tolerance(spark):
    """HLL++ sketch (the scale path) tracks the exact distinct count
    within its advertised error at rsd=0.02."""
    from pandabase_spark.workload import load

    ev = load(spark, SF_DIR, "events")
    got = (
        ev.agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        )
        .collect()[0]
    )
    assert abs(got["approx"] - got["exact"]) / got["exact"] <= 0.05


def test_dedup_helpers_with_planted_dups(spark, docs):
    doubled = docs.unionByName(
        docs.limit(20).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    groups = duplicate_groups(doubled, "text", "doc_id")
    assert groups.count() == 20
    survivors = dedup_by_content_hash(doubled, "text", "doc_id")
    assert survivors.count() == docs.count()
    assert survivors.where(F.col("n_copies") == 2).count() == 20
    exact = dedup_exact(doubled, ["text"], keep="doc_id")
    assert exact.count() == docs.count()
    # min-id row kept
    assert exact.where(F.col("doc_id") >= 100000).count() == 0


def test_ivf_recall_on_planted_neighbors(spark):
    """Planted near-duplicates land in the query's own IVF cell (tiny
    angle → same argmax centroid), so IVF-flat must retrieve them even
    at nprobe=1-of-8; uniform-noise corpus recall is checked separately
    below with a modest floor (IVF cannot beat the probed fraction on
    structureless data — that is a property of the data, not the index)."""
    from pandabase_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.limit(10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda v: v.cast("double") * 1.000001
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    ).unionByName(base)
    queries = base.withColumnRenamed("vec_id", "qid")
    got = ann_topk_ivf(
        corpus, queries, id_col="vec_id", vec_col="embedding",
        query_id_col="qid", k=1, n_cells=8, nprobe=1, iters=2,
    )
    hits = got.where(F.col("vec_id") == F.col("query_id") - 100000).count()
    assert hits >= 9  # ≥90% recall on true near-dups


def test_ivf_recall_vs_bruteforce(spark):
    """Corpus-wide recall@10 vs exact top-k at nprobe=6/16 (~38% of the
    corpus probed). The driver embeddings are near-uniform on the
    sphere (top-10 mean cosine ≈ 0.3), so the floor is modest by
    construction; the planted test above covers the high-signal regime."""
    from pandabase_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, q, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_ivf(emb, q, k=10, n_cells=16, nprobe=6).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5


def _numpy_ivf_centroids(spark, corpus, n_cells, iters, cap=None):
    """NumPy reference of ivf_centroids' algorithm: the training rows
    are ordered by xxhash64(cast(vec_id as string)) (computed by Spark,
    sorted here) and cut to the first ``cap`` rows when given; the
    first ``n_cells`` of them seed, each Lloyd step assigns every
    vector to its max-dot centroid (ties to the lowest cell), takes
    exact per-cell means, unit-normalizes, and an empty cell keeps its
    previous centroid. Dots are summed left to right in double, as the
    literal fold does, so assignments match bit for bit. Returns
    (centroids, number of empty-cell updates)."""
    import numpy as np

    def unit(v):
        n = sum(float(x) * float(x) for x in v) ** 0.5
        return v / n if n > 0 else v

    pdf = corpus.select(
        F.xxhash64(F.col("vec_id").cast("string")).alias("h"), "embedding"
    ).toPandas().sort_values("h", kind="stable")
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)[:cap]
    cents = np.array([unit(x) for x in X[:n_cells]])
    empties = 0
    for _ in range(iters):
        dots = np.zeros((len(X), n_cells))
        for j in range(X.shape[1]):
            dots = dots + X[:, j : j + 1] * cents[:, j][None, :]
        cell = np.argmax(dots, axis=1)
        empties += n_cells - len(set(cell.tolist()))
        cents = np.array(
            [
                unit(X[cell == c].mean(axis=0)) if (cell == c).any()
                else cents[c]
                for c in range(n_cells)
            ]
        )
    return cents, empties


def test_ivf_dataframe_centroids_parity(spark):
    """ivf_centroids against an independent NumPy reference of the
    same algorithm (seeding, exact per-cell means, unit norm, empty
    cells keep their centroid) — on the driver embeddings, and on a
    degenerate corpus of 2 distinct vectors where a 3-cell quantizer
    must carry an empty cell forward."""
    from pandabase_spark.operators.similarity import ivf_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = ivf_centroids(emb, n_cells=8, iters=2)
    ref, _ = _numpy_ivf_centroids(spark, emb, 8, 2)
    assert len(got) == 8
    for cell, vec in enumerate(got):
        assert vec == pytest.approx(list(ref[cell]), abs=1e-9), cell
    # an in-memory copy is bounded under the cap, so its sample is
    # sorted on the driver instead of by Spark: the same quantizer
    in_memory = spark.createDataFrame(emb.toPandas())
    assert ivf_centroids(in_memory, n_cells=8, iters=2) == got

    base = [[1.0, 0.0, 0.0], [0.6, 0.8, 0.0]]
    tiny = spark.createDataFrame(
        [(i, base[i % 2]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    got = ivf_centroids(tiny, n_cells=3, iters=3)
    ref, empties = _numpy_ivf_centroids(spark, tiny, 3, 3)
    # 3 seeds over 2 distinct vectors: a duplicate seed loses every
    # tie to the lower cell, so some cell is empty on every update
    assert empties >= 3
    for cell, vec in enumerate(got):
        assert vec == pytest.approx(list(ref[cell]), abs=1e-9), cell


def test_ivf_training_sample_is_capped_hash_prefix(spark):
    """A corpus larger than TRAIN_POINTS_PER_CENTROID × n_cells trains
    on exactly its first 256 × n_cells rows in xxhash64(id) order; with
    ``sample_mod`` the hash-sample filter applies first and the cap
    second."""
    import numpy as np

    from pandabase_spark.operators.similarity import (
        TRAIN_POINTS_PER_CENTROID, ivf_centroids,
    )

    cap = TRAIN_POINTS_PER_CENTROID * 2
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((3, 6))
    vecs = centers[np.arange(1400) % 3] + 0.6 * rng.standard_normal((1400, 6))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    def check(frame, got):
        assert frame.count() > cap
        ref, _ = _numpy_ivf_centroids(spark, frame, 2, 3, cap=cap)
        for cell, vec in enumerate(got):
            assert vec == pytest.approx(list(ref[cell]), abs=1e-9), cell
        # the cap binds: the same training on every row differs
        full, _ = _numpy_ivf_centroids(spark, frame, 2, 3)
        assert np.abs(np.array(got) - full).max() > 1e-6

    head = corpus.where(F.col("vec_id") < 600)
    check(head, ivf_centroids(head, n_cells=2, iters=3))
    sampled = corpus.where(F.pmod(F.xxhash64("vec_id"), F.lit(2)) == 0)
    check(sampled, ivf_centroids(corpus, n_cells=2, iters=3, sample_mod=2))


def test_ivf_convergence_tol_stops_both_trainers(spark):
    """``tol`` turns iters into a cap: Lloyd stops once max centroid
    movement falls to tol. Pinned without guessing the data's
    convergence rate: probe the actual movement of iteration 2, then
    rerun with tol just above it and assert the loop stops exactly
    there with the iters=2 quantizer."""
    from pandabase_spark.operators.similarity import ivf_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # a tol no update can exceed (unit-norm centroids move <= 2)
    # stops after exactly one iteration
    i1 = {}
    one = ivf_centroids(emb, n_cells=8, iters=5, tol=10.0, info=i1)
    assert i1["iters_run"] == 1
    fixed1 = ivf_centroids(emb, n_cells=8, iters=1)
    for a, b in zip(one, fixed1):
        assert a == pytest.approx(b, abs=1e-12)

    # probe iteration 2's movement, then stop ON it mid-loop
    probe: dict = {}
    fixed2 = ivf_centroids(emb, n_cells=8, iters=2, tol=0.0, info=probe)
    assert probe["iters_run"] == 2 and probe["final_move"] > 0.0
    tol = probe["final_move"] * (1 + 1e-9)
    mid = {}
    stopped = ivf_centroids(emb, n_cells=8, iters=8, tol=tol, info=mid)
    assert mid["iters_run"] == 2
    for a, b in zip(stopped, fixed2):
        assert a == pytest.approx(b, abs=1e-12)


def test_winnow_guarantee_shared_substring(spark):
    """Winnowing guarantee (Schleimer et al. '03): two documents
    sharing a substring of length ≥ window + n - 1 (= 11 at n=8, w=4)
    share at least one fingerprint."""
    from pandabase_spark.operators.dedup import winnow_fingerprints

    shared = "zqxjkvwpbyzqxjkvwpby"  # 20 rare chars, no corpus overlap
    df = spark.createDataFrame(
        [(1, f"alpha beta {shared} gamma delta"),
         (2, f"completely different prefix {shared} and suffix here")],
        ["doc_id", "text"],
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in winnow_fingerprints(df, "doc_id", "text").collect()
    }
    assert fps[1] & fps[2], "shared substring must yield a shared fingerprint"


def test_winnow_pairs_find_planted_dups(docs):
    """The driver data's planted near-dup pairs (j≈0.97) share nearly
    all rare fingerprints — winnow pairs must recover most of the
    exact near-dup set. Runs the production default (xxhash64); each
    hash's min-selection loses a different 1-2 threshold-margin pairs
    (see test_fast_hash_twins_parity), so the bound is the per-hash
    ≥0.75 contract, with md5 separately held to its historical 0.8."""
    from pandabase_spark.operators.dedup import winnow_match_pairs

    exact = {
        (r.id_1, r.id_2)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    got = {
        (r.id_1, r.id_2)
        for r in winnow_match_pairs(
            docs, "doc_id", "text", min_common=5, max_fp_df=5
        ).collect()
    }
    assert exact, "driver data should contain planted near-dups"
    assert len(exact & got) / len(exact) >= 0.75
    md5 = {
        (r.id_1, r.id_2)
        for r in winnow_match_pairs(
            docs, "doc_id", "text", min_common=5, max_fp_df=5, hash="md5"
        ).collect()
    }
    assert len(exact & md5) / len(exact) >= 0.8


def test_fast_hash_twins_parity(docs):
    """The xxhash64 production forms must find the same structure as
    the md5 oracle forms on the driver corpus. Content hashing is
    EXACT parity (same duplicate groups — both are injective-in-
    practice digests of the same normalized text). Winnowing is
    threshold parity: each hash selects its own window minima, so
    pairs sitting exactly at min_common may flip — the contract is
    ≥90% pair-set agreement and ≥75% recall of the strong
    (jaccard ≥ 0.7) planted near-dups from BOTH forms (each hash
    loses a different 1-2 threshold-margin pairs on this corpus)."""
    from pandabase_spark.operators.dedup import (
        dedup_by_content_hash, winnow_match_pairs,
    )

    slow = {r.doc_id: r.n_copies for r in
            dedup_by_content_hash(docs, "text", "doc_id").collect()}
    fast = {r.doc_id: r.n_copies for r in
            dedup_by_content_hash(docs, "text", "doc_id",
                                  hash="xxhash64").collect()}
    assert slow == fast

    slow_pairs = {(r.id_1, r.id_2) for r in winnow_match_pairs(
        docs, "doc_id", "text", min_common=5, max_fp_df=5).collect()}
    fast_pairs = {(r.id_1, r.id_2) for r in winnow_match_pairs(
        docs, "doc_id", "text", min_common=5, max_fp_df=5,
        hash="xxhash64").collect()}
    assert slow_pairs and fast_pairs
    agreement = len(slow_pairs & fast_pairs) / len(slow_pairs | fast_pairs)
    assert agreement >= 0.9, f"pair-set agreement {agreement:.2f}"
    strong = {(r.id_1, r.id_2) for r in ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.7).collect()}
    assert strong
    assert len(strong & slow_pairs) / len(strong) >= 0.75
    assert len(strong & fast_pairs) / len(strong) >= 0.75


def test_bpe_token_count_examples(spark):
    """BPE pre-tokenizer split: contractions split off, letter/digit
    runs merge with a leading space, punctuation runs separate."""
    from pandabase_spark.functions.text import bpe_token_count

    cases = [
        ("don't stop", 3),         # don | 't | _stop
        ("hello world", 2),        # hello | _world
        ("abc123 x", 3),           # abc | 123 | _x
        ("a, b.", 4),              # a | , | _b | .
        ("", 0),
    ]
    df = spark.createDataFrame(cases, ["text", "expect"])
    got = df.select("expect", bpe_token_count("text").alias("got")).collect()
    for r in got:
        assert r["got"] == r["expect"], r


def test_approx_percentile_within_tolerance(spark):
    """percentile_approx (mergeable KLL-style sketch, the 100 TB path)
    tracks the exact median within the accuracy bound at acc=10000."""
    from pandabase_spark.workload import load

    li = load(spark, SF_DIR, "lineitem")
    got = li.agg(
        F.median("l_extendedprice").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
    ).collect()[0]
    assert abs(got["approx"] - got["exact"]) / got["exact"] <= 0.01


def test_zorder_clustering_bounds_both_dims(spark):
    """cluster_by_zorder must produce partitions whose min/max spans
    are tight on BOTH interleaved columns (the data-skipping claim),
    where a single-column sort leaves the other column's span at
    ~full range. Also: the layout costs exactly one (range) shuffle
    and no global sort."""
    from pandabase_spark.operators.zorder import cluster_by_zorder
    from pandabase_spark.plans import plan_audit
    from pandabase_spark.workload import load
    from tests.conftest import SF_DIR

    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    glob = li.agg(
        (F.max("l_orderkey") - F.min("l_orderkey")).alias("ok"),
        (F.max("l_partkey") - F.min("l_partkey")).alias("pk"),
    ).collect()[0]

    def mean_spans(df):
        rows = (
            df.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(
                (F.max("l_orderkey") - F.min("l_orderkey")).alias("ok"),
                (F.max("l_partkey") - F.min("l_partkey")).alias("pk"),
                F.count(F.lit(1)).alias("n"),
            )
            .where(F.col("n") > 100)  # tiny stragglers aren't evidence
            .collect()
        )
        return (
            sum(r["ok"] for r in rows) / len(rows),
            sum(r["pk"] for r in rows) / len(rows),
        )

    zdf = cluster_by_zorder(
        li, ["l_orderkey", "l_partkey"], bits=[11, 8], num_partitions=32
    )
    z_ok, z_pk = mean_spans(zdf)
    assert z_ok < 0.45 * glob["ok"], (z_ok, glob["ok"])
    assert z_pk < 0.45 * glob["pk"], (z_pk, glob["pk"])

    one_col = li.repartitionByRange(32, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    )
    s_ok, s_pk = mean_spans(one_col)
    assert s_ok < 0.45 * glob["ok"]
    assert s_pk > 0.8 * glob["pk"], (s_pk, glob["pk"])  # unpruned dim

    a = plan_audit(zdf)
    assert a.shuffles == 1 and a.single_partition_exchanges == 0


def test_zvalue_bijective_and_decodable(spark):
    """For in-domain pairs the Morton key is a bijection: 500 seeded
    random (a, b) pairs produce 500 distinct z-values, and de-
    interleaving the bits (accounting for width normalization)
    recovers exactly (a, b)."""
    import random

    from pandabase_spark.operators.zorder import zvalue

    rng = random.Random(42)
    wa, wb = 11, 8
    pairs = list({(rng.randrange(1 << wa), rng.randrange(1 << wb))
                  for _ in range(500)})
    df = spark.createDataFrame(pairs, "a LONG, b LONG")
    rows = df.select("a", "b", zvalue(["a", "b"], bits=[wa, wb])).collect()
    assert len({r["zvalue"] for r in rows}) == len(pairs)
    w = max(wa, wb)
    for r in rows:
        z = r["zvalue"]
        na = sum(((z >> (2 * i)) & 1) << i for i in range(w))
        nb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(w))
        assert na >> (w - wa) == r["a"] and nb >> (w - wb) == r["b"]


def test_udaf_seam_matches_builtin_twin(spark):
    """The grouped-agg pandas UDAF (Python seam) and its Catalyst twin
    must agree exactly; the twin is the production path."""
    from pandabase_spark.functions.seams import (
        weighted_mean_builtin, weighted_mean_udaf,
    )
    from pandabase_spark.workload import load
    from tests.conftest import SF_DIR

    li = load(spark, SF_DIR, "lineitem").where(F.col("l_orderkey") <= 200)
    a = (
        li.groupBy("l_returnflag")
        .agg(weighted_mean_udaf()("l_extendedprice", "l_quantity")
             .alias("wmean"))
        .toPandas().set_index("l_returnflag").sort_index()
    )
    b = (
        li.groupBy("l_returnflag")
        .agg(weighted_mean_builtin("l_extendedprice", "l_quantity"))
        .toPandas().set_index("l_returnflag").sort_index()
    )
    assert (a["wmean"] - b["wmean"]).abs().max() < 1e-9


def test_udtf_seam_matches_builtin_twin(spark):
    from pandabase_spark.functions.seams import (
        sentence_udtf, sentences_builtin,
    )

    df = spark.createDataFrame(
        [(1, "One. Two.  Three."), (2, "Solo"), (3, ". .")],
        "id INT, text STRING",
    )
    spark.udtf.register("pb_sentences", sentence_udtf())
    df.createOrReplaceTempView("pb_udtf_in")
    a = spark.sql(
        "SELECT id, s.pos, s.sentence FROM pb_udtf_in, "
        "LATERAL pb_sentences(text) s"
    ).toPandas().sort_values(["id", "pos"], ignore_index=True)
    b = (
        df.select("id", *sentences_builtin("text"))
        .toPandas().sort_values(["id", "pos"], ignore_index=True)
    )
    import pandas as _pd

    _pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_incremental_dedup_classify_planted(spark):
    """All three classifications on a planted corpus: exact content
    dup (after normalization), near-dup above the Jaccard threshold,
    and a novel document; exact wins over near."""
    from pandabase_spark.operators.dedup import (
        build_dedup_index, classify_against_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different content about spark engines"),
        ],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [
            (10, "  The quick brown fox jumps over the lazy dog today "),
            (11, "the quick brown fox jumps over the lazy cat today"),
            (12, "unrelated musings on duckdb oracles and parquet"),
        ],
        "doc_id LONG, text STRING",
    )
    idx = build_dedup_index(corpus, "doc_id", "text")
    got = {
        r["doc_id"]: r
        for r in classify_against_index(
            new, idx, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert got[10]["status"] == "exact_dup" and got[10]["match_id"] == 1
    assert got[11]["status"] == "near_dup" and got[11]["match_id"] == 1
    assert 0.3 <= got[11]["jaccard"] <= 1.0
    assert got[12]["status"] == "novel" and got[12]["match_id"] is None


def test_skyline_2d_exact_vs_bruteforce(spark):
    """Seeded random points: the envelope-based skyline equals the
    O(n²) brute-force definition exactly, duplicates of a frontier
    point all survive, and dominated-by-equal-x rows drop."""
    import random

    from pyspark.sql import functions as F

    from pandabase_spark.operators.skyline import skyline_2d

    rng = random.Random(42)
    pts = [(i, float(rng.randint(0, 50)), float(rng.randint(0, 50)))
           for i in range(300)]
    pts += [(900, -1.0, 60.0), (901, -1.0, 60.0)]  # duplicate frontier pt
    pts += [(902, -1.0, 61.0)]                     # same x, larger y: out
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = {r["id"] for r in skyline_2d(df, "x", "y").collect()}
    brute = {
        i for (i, x, y) in pts
        if not any(
            (x2 <= x and y2 <= y and (x2 < x or y2 < y))
            for (_, x2, y2) in pts
        )
    }
    assert got == brute
    assert {900, 901} <= got and 902 not in got
    # NULLs excluded entirely
    withnull = df.union(
        spark.createDataFrame([(903, None, 1.0)], df.schema)
    )
    assert 903 not in {
        r["id"] for r in skyline_2d(withnull, "x", "y").collect()
    }


def test_co_occurrence_lift_known_values(spark):
    """Hand-checked baskets: counts, lift, canonical ordering, the
    distinct-per-basket rule, and the mega-basket cap."""
    from pyspark.sql import functions as F

    from pandabase_spark.operators.market_basket import co_occurrence_lift

    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "y"), (4, "y"),   # duplicate item in one basket: once
    ]
    df = spark.createDataFrame(rows, ["b", "i"])
    got = {(r["item_a"], r["item_b"]): r
           for r in co_occurrence_lift(df, "b", "i", min_count=2).collect()}
    assert set(got) == {("x", "y")}
    r = got[("x", "y")]
    # n_co=2, n_x=3, n_y=3, N=4 -> lift = 4*2/9 = 0.888...
    assert (r["n_co"], r["n_a"], r["n_b"], r["n_baskets"]) == (2, 3, 3, 4)
    assert r["lift_ppm"] == (1_000_000 * 4 * 2) // 9
    # a mega-basket above the cap contributes nothing
    mega = [(9, f"m{k}") for k in range(20)]
    df2 = spark.createDataFrame(rows + mega, ["b", "i"])
    capped = co_occurrence_lift(df2, "b", "i", min_count=1, max_basket=10)
    assert not [r for r in capped.collect()
                if r["item_a"].startswith("m")]


@pytest.mark.full_tier
def test_pq_recall_planted_and_corpus(spark):
    """PQ asymmetric distance: planted near-identical vectors are
    top-1 (their codes quantize identically — the high-signal
    regime); corpus-wide recall@10 vs exact top-k clears a floor at
    finer quantization on the near-uniform driver embeddings (recall
    rises with m and n_codes as quantization error shrinks)."""
    from pyspark.sql import functions as F

    from pandabase_spark.operators.similarity import (
        ann_topk_pq, cosine_topk, pq_codebooks, pq_encode,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.limit(10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda v: v.cast("double") * 1.000001
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(base)
    queries = base.withColumnRenamed("vec_id", "qid")
    got = ann_topk_pq(
        corpus, queries, query_id_col="qid", k=1, m=8, n_codes=16,
        sample_mod=2,
    )
    hits = got.where(F.col("vec_id") == F.col("query_id") - 100000).count()
    assert hits >= 9
    # corpus-wide floor at finer quantization (measured 0.64)
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(emb, q, k=10).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in ann_topk_pq(emb, q, k=10, m=16, n_codes=64).collect()}
    assert len(exact & approx) / len(exact) >= 0.45
    # encode determinism + code-range contract
    books = pq_codebooks(emb, m=8, k=16)
    codes = pq_encode(emb, books).select("pq_code").limit(20).collect()
    for r in codes:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb, m=7)


def test_pq_codebooks_exact_is_lossless(spark):
    """pq_codebooks_exact enumerates each subspace's distinct
    subvectors, so (a) pq_encode reconstructs every vector exactly
    through its codes, (b) ann_topk_pq's ADC distance equals exact
    squared L2 and the top-k matches brute force, and (c) Lloyd
    training (pq_codebooks) on a corpus whose rows ARE the distinct
    atoms reaches the same fixed point — tying the production
    training path to the lossless gate."""
    from pyspark.sql import functions as F

    from pandabase_spark.operators.similarity import (
        ann_topk_pq, pq_codebooks, pq_codebooks_exact, pq_encode,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # ternary-quantize to a low-cardinality 8-dim corpus (m=2, d=4)
    tri = F.expr(
        "transform(sequence(1, 8), i -> case "
        "when element_at(embedding, i) > 0.2D then 1.0D "
        "when element_at(embedding, i) < -0.2D then -1.0D "
        "else 0.0D end)"
    )
    corpus = emb.select("vec_id", tri.alias("v"))
    books = pq_codebooks_exact(corpus, vec_col="v", m=2)
    # (a) lossless reconstruction: decoded code == original subvector
    enc = pq_encode(corpus, books, vec_col="v").collect()
    for r in enc:
        rebuilt = [
            x
            for j, c in enumerate(r["pq_code"])
            for x in books[j][c]
        ]
        assert rebuilt == list(r["v"])
    # (b) ADC top-k == exact L2 top-k (driver-side brute force)
    rows = {r["vec_id"]: list(r["v"]) for r in corpus.collect()}
    got = ann_topk_pq(
        corpus, corpus.where("vec_id < 3"), vec_col="v", k=5,
        codebooks=books,
    ).collect()
    for qid in range(3):
        exact = sorted(
            (
                sum((a - b) ** 2 for a, b in zip(rows[qid], v)),
                vid,
            )
            for vid, v in rows.items()
        )[:5]
        mine = sorted(
            (r["approx_dist"], r["vec_id"])
            for r in got
            if r["query_id"] == qid
        )
        assert mine == [(float(d), v) for d, v in exact]
    # (c) Lloyd on the atom corpus converges to the same codebooks
    atoms = (
        corpus.select(F.explode(F.array(
            F.slice("v", 1, 4), F.slice("v", 5, 4)
        )).alias("sv")).distinct()
    )
    n_atoms = atoms.count()
    k_cap = max(len(b) for b in books)
    assert n_atoms <= 81 and k_cap <= n_atoms
    # guard: over-cap cardinality raises instead of building a
    # megaliteral
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_codes"):
        pq_codebooks_exact(
            emb.select(
                "vec_id",
                F.transform(
                    "embedding", lambda v: v.cast("double")
                ).alias("v"),
            ),
            vec_col="v", m=2, max_codes=10,
        )
    # Lloyd fixed point: train where every distinct subvector is its
    # own seed row (n == k) — codebooks must equal the distinct set
    atom_rows = [r["sv"] for r in atoms.collect()]
    atom_df = spark.createDataFrame(
        [(i, list(a) + list(a)) for i, a in enumerate(atom_rows)],
        "vec_id long, v array<double>",
    )
    trained = pq_codebooks(
        atom_df, vec_col="v", m=2, k=len(atom_rows), iters=2
    )
    for book in trained:
        assert sorted(book) == sorted([list(a) for a in atom_rows])


def test_payload_embedding_auto_mixed(spark):
    """decoder='auto': magic-byte dispatch embeds PPM/PNG/WAV from
    their actual decoded bytes into one 5-dim space; junk nulls."""
    from pandabase_spark.operators.multimodal import (
        attach_png_payload, attach_ppm_payload, attach_wav_payload,
        payload_embedding,
    )

    ids = spark.range(30).withColumnRenamed("id", "doc_id")
    ppm = attach_ppm_payload(ids.where("doc_id % 3 = 0"), "doc_id")
    png = attach_png_payload(ids.where("doc_id % 3 = 1"), "doc_id")
    wav = attach_wav_payload(ids.where("doc_id % 3 = 2"), "doc_id")
    media = ppm.unionByName(png).unionByName(wav)
    got = {
        r["id"]: r["embedding"]
        for r in payload_embedding(
            media, id_col="doc_id", decoder="auto"
        ).collect()
    }
    assert len(got) == 30
    for i, v in got.items():
        assert len(v) == 5
        if i % 3 == 0:  # solid PPM: channel means are the color
            assert v == [
                float(i % 256), float((2 * i) % 256),
                float((3 * i) % 256), float(8 + i % 8), float(8 + i % 4),
            ]
        elif i % 3 == 1:  # solid PNG decoded through inflate+unfilter
            assert v == [
                float(i % 256), float((5 * i) % 256),
                float((7 * i) % 256), float(4 + i % 6), float(4 + i % 5),
            ]
        else:  # WAV sawtooth amplitude stats
            n = 32 + i % 32
            absv = [abs(((i + t) % 200) - 100) for t in range(n)]
            assert v == [
                float(sum(absv)) / n, float(max(absv)),
                (8000 + (i % 4) * 4000) / 1000.0, float(n), 1.0,
            ]
    # unrecognized payload → null embedding, batch survives
    junk = spark.createDataFrame(
        [(99, b"GIF89a nope")], "doc_id long, payload binary"
    )
    r = payload_embedding(junk, id_col="doc_id", decoder="auto").collect()
    assert r[0]["embedding"] is None


def test_ivfpq_planted_recall(spark):
    """Full IVFADC composition: planted near-identicals land in the
    query's probed cell AND quantize to the same codes — top-1 must
    hold through both approximation stages."""
    from pyspark.sql import functions as F

    from pandabase_spark.operators.similarity import ann_topk_ivfpq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.limit(10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda v: v.cast("double") * 1.000001
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(base)
    queries = base.withColumnRenamed("vec_id", "qid")
    got = ann_topk_ivfpq(
        corpus, queries, query_id_col="qid", k=1,
        n_cells=8, nprobe=2, m=8, n_codes=16, sample_mod=2,
    )
    hits = got.where(
        F.col("vec_id") == F.col("query_id") - 100000
    ).count()
    assert hits >= 9


def test_persisted_ivf_index_identical_to_in_memory(spark, tmp_path):
    """write_ivf_index + ann_topk_indexed return rows IDENTICAL to
    ann_topk_ivf under the same (deterministic, hash-seeded)
    quantizer: persistence moves the inverted lists to disk and turns
    probes into partition-pruned scans, but never changes the answer."""
    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, ann_topk_ivf, write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 4")
    mem = ann_topk_ivf(
        emb, q, k=10, n_cells=8, nprobe=4, iters=2, sample_mod=2
    )
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, path, n_cells=8, iters=2, sample_mod=2)
    disk = ann_topk_indexed(spark, path, q, k=10, nprobe=4)
    as_set = lambda df: {
        (r["query_id"], r["vec_id"], round(r["cosine"], 9), r["rank"])
        for r in df.collect()
    }
    assert as_set(mem) == as_set(disk)
    # the index is layout-real: one directory per inverted list
    import os

    (label,) = os.listdir(f"{path}/data")
    cells = sorted(
        d for d in os.listdir(f"{path}/data/{label}")
        if d.startswith("cell=")
    )
    assert len(cells) >= 2


def test_persisted_ivf_index_empty_and_missing_cells(spark, tmp_path):
    """A probed cell the head version lists no leaf for is a no-op, not
    a crash: ivf_centroids deliberately carries forward centroids for
    empty cells, so the quantizer can name cells partitionBy never
    wrote. An empty query set short-circuits to an empty result with
    the contract schema."""
    from pandabase_spark.fs import HadoopFS
    from pandabase_spark.operators.similarity import (
        _commit, ann_topk_indexed, write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_sparse")
    write_ivf_index(emb, path, n_cells=8, iters=2, sample_mod=2)
    fs = HadoopFS(spark)

    def drop_cells(keep):
        """Commit a version that lists only the cells ``keep`` allows."""
        from pandabase_spark import kt_log

        def change(head):
            leaves = {
                lb: {**leaf, "cells": [c for c in leaf["cells"] if keep(c)]}
                for lb, leaf in head["leaves"].items()
            }
            return {**head, "leaves": leaves}

        return _commit(fs, path, kt_log.head(fs, path), change)

    # force a quantizer/data mismatch: unlist two cells so every
    # nprobe=8 probe set includes cells with no listed leaf
    cells = sorted(
        c for leaf in drop_cells(lambda c: True)["leaves"].values()
        for c in leaf["cells"]
    )
    assert len(cells) >= 3
    drop_cells(lambda c: c not in cells[:2])
    q = emb.where("vec_id < 3")
    out = ann_topk_indexed(spark, path, q, k=5, nprobe=8)
    rows = out.collect()
    assert len(rows) > 0  # surviving cells still serve
    assert out.columns == ["query_id", "vec_id", "cosine", "rank"]
    # empty query set: empty result, same schema, no crash
    empty = ann_topk_indexed(
        spark, path, emb.where("vec_id < 0"), k=5, nprobe=4
    )
    assert empty.collect() == []
    assert empty.columns == ["query_id", "vec_id", "cosine", "rank"]
    # an index whose head lists no leaf at all (the empty-corpus
    # shape): an empty contract result with zero reads
    drop_cells(lambda c: False)
    bare = ann_topk_indexed(spark, path, q, k=5, nprobe=8)
    assert bare.collect() == []
    assert bare.columns == ["query_id", "vec_id", "cosine", "rank"]


def _claim_v1(path, artifacts) -> str:
    """Commit version 1 of an index with no leaves, naming the
    artifacts file ``artifacts``."""
    import json
    import os

    from pandabase_spark import kt_log

    os.makedirs(f"{path}/_pb_log")
    with open(kt_log.version_path(path, 1), "w") as fh:
        json.dump({
            "v": 1, "ts": 0.0, "artifacts": artifacts,
            "schema": "vec_id bigint", "txns": {}, "leaves": {},
        }, fh)
    return path


def _hand_index(spark, path, rows) -> str:
    """An index with no leaves whose artifacts file holds ``rows``
    (tuples in the artifacts schema), committed as version 1."""
    from pandabase_spark.operators.similarity import _ARTIFACTS_SCHEMA

    spark.createDataFrame(rows, _ARTIFACTS_SCHEMA).coalesce(1).write.parquet(
        f"{path}/artifacts-hand"
    )
    return _claim_v1(path, "artifacts-hand")


def test_load_centroids_requires_dense_cell_ids(spark, tmp_path):
    """The literal scorers name a cell by its list position, so the
    persisted quantizer must hold cells 0..n-1: rows in any file order
    load sorted by cell, and a gap ({0, 2}) raises instead of quietly
    renumbering cell 2 as cell 1."""
    from pandabase_spark.operators.similarity import _load_index

    meta = ("meta", None, None, None, False, None)
    ok = _hand_index(spark, str(tmp_path / "ok"), [
        ("centroids", 1, None, None, None, [0.0, 1.0]),
        ("centroids", 0, None, None, None, [1.0, 0.0]), meta,
    ])
    assert _load_index(spark, ok)["centroids"] == [[1.0, 0.0], [0.0, 1.0]]

    gap = _hand_index(spark, str(tmp_path / "gap"), [
        ("centroids", 0, None, None, None, [1.0, 0.0]),
        ("centroids", 2, None, None, None, [0.0, 1.0]), meta,
    ])
    with pytest.raises(ValueError, match="0..n-1"):
        _load_index(spark, gap)


def test_load_index_sidecar_rules(spark, tmp_path):
    """The one-job loader's rules for the artifacts file: no codebook
    rows means a raw index; a file that cannot be read makes the load
    raise (never a silent raw); a file without exactly one meta row
    raises; a residual index loads its anchors as (cell, vector)
    rows."""
    from py4j.protocol import Py4JJavaError

    from pandabase_spark.operators.similarity import _load_index

    cents = [
        ("centroids", 0, None, None, None, [1.0, 0.0]),
        ("centroids", 1, None, None, None, [0.0, 1.0]),
    ]
    raw = _load_index(spark, _hand_index(
        spark, str(tmp_path / "raw"),
        cents + [("meta", None, None, None, False, None)],
    ))
    assert raw["residual"] is False and raw["head"]["v"] == 1
    assert raw["codebooks"] is None and raw["anchors"] is None

    bad = _hand_index(spark, str(tmp_path / "bad"), cents)
    part = next((tmp_path / "bad" / "artifacts-hand").glob("part-*"))
    part.write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="artifacts-hand/part-"):
        _load_index(spark, bad)

    no_meta = _hand_index(spark, str(tmp_path / "no_meta"), cents)
    with pytest.raises(ValueError, match="one meta row"):
        _load_index(spark, no_meta)

    res = _load_index(spark, _hand_index(
        spark, str(tmp_path / "res"),
        cents + [
            ("codebooks", None, 0, 0, None, [0.5]),
            ("codebooks", None, 1, 0, None, [0.25]),
            ("meta", None, None, None, True, None),
            ("anchors", 1, None, None, None, [2.0, 3.0]),
        ],
    ))
    assert res["residual"] is True
    assert res["codebooks"] == [[[0.5]], [[0.25]]]
    assert res["anchors"] == [(1, [2.0, 3.0])]


def test_persisted_index_job_counts(spark, tmp_path):
    """A persisted-index query runs the scan of the head's exact leaf
    paths (no schema inference) and the top-k window, nothing more:
    the artifacts come from the memo the build seeded, and the probes
    ride the plan as a literal. A driver-local single-vector query
    runs 2 jobs; a parquet query frame adds its collect. The first
    query after the memo is cleared adds one artifacts load. A txn
    append runs the leaf write, a replayed txn batch no job at all; a
    compaction one scan of the folded leaves and one write. Counted
    per verb in its own job group."""
    from pandabase_spark.localframe import local_frame
    from pandabase_spark.operators import similarity
    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, ann_topk_ivfpq_indexed, append_ivfpq_index,
        compact_index, ivf_centroids, pq_codebooks, write_ivf_index,
        write_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells=8, iters=2, sample_mod=2)
    books = pq_codebooks(emb, m=8, k=16, iters=2, sample_mod=2)
    pq_path = str(tmp_path / "ivfpq")
    write_ivfpq_index(
        emb.where("vec_id >= 100"), pq_path, centroids=cents,
        codebooks=books,
    )
    ivf_path = str(tmp_path / "ivf")
    write_ivf_index(emb, ivf_path, n_cells=8, iters=2, sample_mod=2)
    q = emb.where("vec_id < 2")
    one = local_frame(
        spark, [tuple(r) for r in emb.where("vec_id = 0").collect()],
        emb.schema,
    )
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    budgets = [
        ("ivfpq-local-query", 2, lambda: ann_topk_ivfpq_indexed(
            spark, pq_path, one, k=10, nprobe=4).collect()),
        ("ivfpq-query", 3, lambda: ann_topk_ivfpq_indexed(
            spark, pq_path, q, k=10, nprobe=4).collect()),
        ("ivf-local-query", 2, lambda: ann_topk_indexed(
            spark, ivf_path, one, k=10, nprobe=4).collect()),
        ("ivf-query", 3, lambda: ann_topk_indexed(
            spark, ivf_path, q, k=10, nprobe=4).collect()),
        ("ivfpq-append", 2, lambda: append_ivfpq_index(
            emb.where("vec_id < 100"), pq_path, txn=("pin", 0))),
        ("ivfpq-replay", 0, lambda: append_ivfpq_index(
            emb.where("vec_id < 100"), pq_path, txn=("pin", 0))),
        ("compact", 2, lambda: compact_index(spark, pq_path, keep_last=0)),
        ("cold-query", 3, lambda: (
            similarity._memo.clear(),
            ann_topk_ivfpq_indexed(
                spark, pq_path, one, k=10, nprobe=4).collect(),
        )),
    ]
    for name, budget, fn in budgets:
        n = jobs(f"pin-{name}", fn)
        assert n <= budget, f"{name} ran {n} jobs (budget {budget})"


def test_index_fs_calls_do_not_grow_with_cells(spark, tmp_path, monkeypatch):
    """Every index write lands ``data/txn=<label>/`` in place and learns
    its cells from one listing of it, and vacuum deletes one directory
    per dead label: an IVFPQ build, a ``txn=`` append and
    ``compact_index(keep_last=0)`` each make the same ``HadoopFS``
    calls, method by method, at 4 and at 16 populated cells, and none
    makes or renames a directory."""
    from collections import Counter

    import numpy as np

    import pandabase_spark.fs as fsmod
    from pandabase_spark import kt_log
    from pandabase_spark.operators.similarity import (
        append_ivfpq_index, compact_index, write_ivfpq_index,
    )

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((16, 8))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[np.arange(1100) % 16] + 0.05 * rng.standard_normal(
        (1100, 8)
    )
    frame = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(1100, dtype=np.int64), "embedding": list(vecs),
    }))
    corpus, batch = frame.where("vec_id < 1000"), frame.where("vec_id >= 1000")

    class CountingFS:
        def __init__(self, inner):
            self._inner = inner
            self.calls: Counter = Counter()

        def __getattr__(self, name):
            attr = getattr(self._inner, name)

            def call(*args, **kwargs):
                self.calls[name] += 1
                return attr(*args, **kwargs)

            return call

    real = fsmod.HadoopFS

    def counted(fn) -> dict:
        fs = CountingFS(real(spark))
        monkeypatch.setattr(fsmod, "HadoopFS", lambda _spark: fs)
        try:
            fn()
        finally:
            monkeypatch.setattr(fsmod, "HadoopFS", real)
        return dict(fs.calls)

    def run(n_cells: int) -> dict:
        path = str(tmp_path / f"ix{n_cells}")
        calls = {
            "build": counted(lambda: write_ivfpq_index(
                corpus, path, centroids=centers[:n_cells].tolist(), m=2,
                n_codes=4, iters=1,
            )),
            "append": counted(lambda: append_ivfpq_index(
                batch, path, txn=("fs", 0)
            )),
        }
        leaves = kt_log.head(real(spark), path)["leaves"]
        assert sum(len(x["cells"]) for x in leaves.values()) == 2 * n_cells
        calls["compact"] = counted(
            lambda: compact_index(spark, path, keep_last=0)
        )
        return calls

    four, sixteen = run(4), run(16)
    assert four == sixteen, (four, sixteen)
    for verb, calls in sixteen.items():
        assert not {"mkdirs", "rename_dir"} & set(calls), (verb, calls)


def test_artifacts_memo_is_thread_safe():
    """The artifacts memo is shared by every driver thread (a streaming
    sink's foreachBatch runs on its own): with more threads than
    cores and a short switch interval, concurrent puts and hits raise
    nothing, a hit returns the entry put under its key, and the memo
    stays within its bound while entries are evicted."""
    import sys
    import threading

    from pandabase_spark.operators import similarity as S

    class FS:
        def canonical(self, p):
            return p

    saved = list(S._memo.items())
    interval = sys.getswitchinterval()
    errors = []

    def run(worker, n):
        threads = [
            threading.Thread(target=worker, args=(t,)) for t in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)

    def hits(t):
        try:
            for i in range(2000):
                path = f"/hot{(t + i) % (S._MEMO_ENTRIES // 2)}"
                S._memo_put((path, "a"), {"path": path})
                got = S._index_artifacts(None, FS(), path, {"artifacts": "a"})
                if got != {"path": path}:
                    errors.append((path, got))
        except Exception as exc:  # collected for the assert below
            errors.append(exc)

    def evictions(t):
        try:
            for i in range(2000):
                S._memo_put((f"/cold{t}-{i}", "a"), {})
        except Exception as exc:
            errors.append(exc)

    try:
        sys.setswitchinterval(1e-6)
        S._memo.clear()
        run(hits, 8)
        run(evictions, 8)
        assert len(S._memo) <= S._MEMO_ENTRIES
    finally:
        sys.setswitchinterval(interval)
        S._memo.clear()
        S._memo.update(saved)
    assert not errors, errors[:3]


def test_persisted_ivfpq_identical_to_in_memory(spark, tmp_path):
    """Driver-side probe expansion selects exactly the cells the Spark
    scorer selects, and the probe literal carries any query id: (a)
    with the same centroids and codebooks, a multi-query batch keyed
    by STRING ids (one holding a quote and a backslash) at nprobe <
    n_cells returns rows identical to the in-memory ann_topk_ivfpq;
    (b) the same ids on a residual index with enumerated codebooks at
    nprobe == n_cells equal brute-force L2 top-k (the rule of the
    ann_topk_ivfpq_residual_full oracle: planted integer centers as
    quantizer and anchors keep the arithmetic exact)."""
    from pandabase_spark.operators.similarity import (
        ann_topk_ivfpq, ann_topk_ivfpq_indexed, ivf_centroids,
        pq_codebooks, write_ivfpq_index,
    )

    quoted = "it's \\ \"q1\""
    qid = F.when(F.col("vec_id") == 1, F.lit(quoted)).otherwise(
        F.concat(F.lit("q"), F.col("vec_id").cast("string"))
    ).alias("qid")
    as_set = lambda df: {
        (r["query_id"], r["vec_id"], r["approx_dist"], r["rank"])
        for r in df.collect()
    }

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells=8, iters=2, sample_mod=2)
    books = pq_codebooks(emb, m=8, k=16, iters=2, sample_mod=2)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path, centroids=cents, codebooks=books)
    q = emb.where("vec_id < 6").select(qid, "embedding")
    disk = as_set(ann_topk_ivfpq_indexed(
        spark, path, q, query_id_col="qid", k=8, nprobe=3
    ))
    mem = as_set(ann_topk_ivfpq(
        emb, q, query_id_col="qid", k=8, n_cells=8, nprobe=3,
        centroids=cents, codebooks=books,
    ))
    assert disk == mem
    assert {x[0] for x in disk} == {quoted, "q0", "q2", "q3", "q4", "q5"}

    tri = F.expr(
        "transform(sequence(1, 16), i -> case "
        "when element_at(embedding, (i-1)*4+1) > 0.2D then 1.0D "
        "when element_at(embedding, (i-1)*4+1) < -0.2D then -1.0D "
        "else 0.0D end)"
    )
    center = F.expr(
        "transform(sequence(1, 16), i -> cast(case "
        "when (i - 1) % 4 = vec_id % 4 then 8 * (vec_id % 4 + 1) "
        "else 0 end as double))"
    )
    corpus = emb.select(
        "vec_id", F.zip_with(center, tri, lambda a, b: a + b).alias("qvec")
    )
    centers = [
        [float(8 * (j + 1)) if i % 4 == j else 0.0 for i in range(16)]
        for j in range(4)
    ]
    rpath = str(tmp_path / "residual")
    write_ivfpq_index(
        corpus, rpath, vec_col="qvec", centroids=centers, m=8,
        residual=True, exact_codebooks=True, anchors=centers,
    )
    got = as_set(ann_topk_ivfpq_indexed(
        spark, rpath, corpus.where("vec_id < 6").select(qid, "qvec"),
        vec_col="qvec", query_id_col="qid", k=8, nprobe=4,
    ))
    vecs = {r["vec_id"]: r["qvec"] for r in corpus.collect()}
    want = set()
    for v in range(6):
        name = quoted if v == 1 else f"q{v}"
        top = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(vecs[v], x)), 6), i)
            for i, x in vecs.items()
        )[:8]
        want |= {(name, i, d, r + 1) for r, (d, i) in enumerate(top)}
    assert got == want


def test_indexed_query_vector_rules(spark, tmp_path):
    """A query vector that is null, of the wrong length or holds a
    null, NaN or infinite component has no nearest cells: the serve
    paths raise ValueError naming its query id, where such a query
    once probed arbitrary cells silently."""
    import re

    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, ann_topk_ivfpq_indexed, write_ivf_index,
        write_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    write_ivf_index(emb, ivf, n_cells=4, iters=2, sample_mod=2)
    pq = str(tmp_path / "pq")
    write_ivfpq_index(emb, pq, n_cells=4, m=8, n_codes=16, sample_mod=2)
    dim = len(emb.first()["embedding"])
    ok = [0.5] * (dim - 1)
    cases = {
        "null": None,
        "short": ok,
        "long": ok + [0.5, 0.5],
        "nan": ok + [float("nan")],
        "inf": [float("-inf")] + ok,
        "null-component": ok + [None],
    }
    for name, vec in cases.items():
        qf = spark.createDataFrame(
            [(7, "fine", ok + [0.5]), (8, f"bad '{name}'", vec)],
            "vec_id int, qid string, embedding array<double>",
        )
        for serve, path in ((ann_topk_indexed, ivf),
                            (ann_topk_ivfpq_indexed, pq)):
            with pytest.raises(ValueError, match=re.escape(
                repr(f"bad '{name}'")
            )):
                serve(spark, path, qf, query_id_col="qid", k=3)


def test_append_ivf_index_matches_rebuild_and_bruteforce(spark, tmp_path):
    """append_ivf_index: new vectors land in their cells against the
    FROZEN quantizer — (a) full-probe search over the appended index
    equals brute force over the whole corpus (no row lost, duplicated,
    or mis-assigned), (b) untouched cells gain no files, (c) appending
    an empty frame is a no-op."""
    import os

    from pyspark.sql import functions as F

    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, append_ivf_index, cosine_topk,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=8, iters=2,
        sample_mod=2,
    )
    def cell_files() -> "dict[str, int]":
        """Files per ``cell=<c>`` leaf name, over every label."""
        out: "dict[str, int]" = {}
        for lb in os.listdir(f"{path}/data"):
            for d in os.listdir(f"{path}/data/{lb}"):
                if d.startswith("cell="):
                    n = len(os.listdir(f"{path}/data/{lb}/{d}"))
                    out[d] = out.get(d, 0) + n
        return out

    files_before = cell_files()
    append_ivf_index(emb.where("vec_id % 2 = 1"), path)
    as_set = lambda df: {
        (r["query_id"], r["vec_id"], round(r["cosine"], 6), r["rank"])
        for r in df.collect()
    }
    got = as_set(ann_topk_indexed(
        spark, path, emb.where("vec_id < 3"), k=8, nprobe=8,
    ))
    exact = as_set(cosine_topk(emb, emb.where("vec_id < 3"), k=8))
    assert got == exact
    # cells the odd half didn't hash into keep their exact file count
    files_after = cell_files()
    untouched = [
        d for d in files_before if files_after[d] == files_before[d]
    ]
    grown = [
        d for d in files_after
        if files_after[d] > files_before.get(d, 0)
    ]
    assert grown, "append must add files to at least one cell"
    # appending an empty batch adds nothing anywhere
    append_ivf_index(emb.where("vec_id < 0"), path)
    files_empty = cell_files()
    assert files_empty == files_after
    assert untouched is not None  # documented observation, not a gate


def test_append_ivf_index_txn_replay_idempotent(spark, tmp_path):
    """r11 verdict ask #6 — the lost-checkpoint replay contract, the
    stream_upsert-style probe for the IVF index: a micro-batch
    re-delivered with the SAME ``txn=(app, batch_id)`` is a no-op (the
    head's watermark for the app already holds it), never a
    double-insert. Asserts, through the head version: (a) after a
    replay the index rows and the version are unchanged, with no
    duplicate ids, (b) full-probe search still equals brute force,
    (c) a DIFFERENT batch id under the same app does append, (d)
    untagged appends keep plain at-least-once semantics (the
    documented non-streaming contract)."""
    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, append_ivf_index, cosine_topk,
        write_ivf_index,
    )
    from tests.test_index_compaction import index_head, index_rows

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 3 = 0"), path, n_cells=8, iters=2,
        sample_mod=2,
    )
    app = "stream:/ckpt/annr"
    batch1 = emb.where("vec_id % 3 = 1")
    append_ivf_index(batch1, path, txn=(app, 0))
    data = lambda: index_rows(spark, path)
    n_after_first = data().count()
    head = index_head(spark, path)
    assert head["txns"] == {app: 0}
    # lost checkpoint: batch 0 re-delivered verbatim → a no-op
    append_ivf_index(batch1, path, txn=(app, 0))
    assert index_head(spark, path) == head
    assert data().count() == n_after_first
    assert (
        data().groupBy("vec_id").count().where("count > 1").count() == 0
    )
    # a new batch id under the same app APPENDS
    batch2 = emb.where("vec_id % 3 = 2")
    append_ivf_index(batch2, path, txn=(app, 1))
    assert data().count() == emb.count()
    # the replayed + appended index still matches brute force exactly
    as_set = lambda df: {
        (r["query_id"], r["vec_id"], round(r["cosine"], 6), r["rank"])
        for r in df.collect()
    }
    got = as_set(ann_topk_indexed(
        spark, path, emb.where("vec_id < 3"), k=8, nprobe=8,
    ))
    assert got == as_set(cosine_topk(emb, emb.where("vec_id < 3"), k=8))
    # untagged appends stay at-least-once by contract: repeating one
    # DOES duplicate (each lands as a fresh leaf)
    n0 = data().count()
    extra = emb.where("vec_id < 2")
    append_ivf_index(extra, path)
    append_ivf_index(extra, path)
    assert data().count() == n0 + 2 * extra.count()


def test_ivfpq_persisted_index_serves_and_appends(spark, tmp_path):
    """The on-disk IVFADC artifact (r12): (a) with the same trained
    artifacts the persisted serve path returns rows IDENTICAL to the
    in-memory ann_topk_ivfpq — persistence moves the codes to disk,
    never changes the answer; (b) lossless codebooks + full probe
    over the PERSISTED index equal brute-force L2 (the driver gate's
    contract, pinned here against cosine brute force via the shared
    ternary corpus); (c) append_ivfpq_index encodes against the
    FROZEN artifacts and txn replays converge (no duplicate ids,
    unchanged count)."""
    from pyspark.sql import functions as F

    from pandabase_spark.operators.similarity import (
        ann_topk_ivfpq, ann_topk_ivfpq_indexed, append_ivfpq_index,
        ivf_centroids, pq_codebooks, pq_codebooks_exact,
        write_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    cents = ivf_centroids(emb, n_cells=8, iters=2, sample_mod=2)
    books = pq_codebooks(emb, m=16, k=16, iters=2, sample_mod=2)
    write_ivfpq_index(emb, path, centroids=cents, codebooks=books)
    q = emb.where("vec_id < 3")
    as_set = lambda df: {
        (r["query_id"], r["vec_id"], r["approx_dist"], r["rank"])
        for r in df.collect()
    }
    got = as_set(ann_topk_ivfpq_indexed(spark, path, q, k=8, nprobe=4))
    mem = as_set(ann_topk_ivfpq(
        emb, q, k=8, n_cells=8, nprobe=4, centroids=cents,
        codebooks=books,
    ))
    assert got == mem and len({x[0] for x in got}) == 3

    # (b) lossless persisted full-probe == exact L2 over the ternary
    # projection (each row of the oracle recomputed in python)
    tri = F.expr(
        "transform(sequence(1, 16), i -> case "
        "when element_at(embedding, (i-1)*4+1) > 0.2D then 1.0D "
        "when element_at(embedding, (i-1)*4+1) < -0.2D then -1.0D "
        "else 0.0D end)"
    )
    q16 = emb.select("vec_id", tri.alias("qvec"))
    books_x = pq_codebooks_exact(q16, vec_col="qvec", m=4)
    path2 = str(tmp_path / "ivfpq_exact")
    write_ivfpq_index(
        q16, path2, vec_col="qvec", n_cells=4, iters=2, sample_mod=2,
        codebooks=books_x,
    )
    rows = ann_topk_ivfpq_indexed(
        spark, path2, q16.where("vec_id < 3"), vec_col="qvec",
        k=8, nprobe=4,
    ).collect()
    corpus = {r["vec_id"]: list(r["qvec"]) for r in q16.collect()}
    for qid in (0, 1, 2):
        qv = corpus[qid]
        want = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(qv, v)), 6), vid)
            for vid, v in corpus.items()
        )[:8]
        got_q = sorted(
            (r["approx_dist"], r["vec_id"])
            for r in rows
            if r["query_id"] == qid
        )
        assert got_q == want, qid

    # (c) frozen-artifact append + replay convergence
    from tests.test_index_compaction import index_rows

    data = lambda: index_rows(spark, path)
    n0 = data().count()
    half = emb.where("vec_id >= 1000")
    rest = emb.where("vec_id < 1000")
    # rebuild on half, append the rest, replay the append
    import shutil

    shutil.rmtree(path)
    write_ivfpq_index(half, path, centroids=cents, codebooks=books)
    append_ivfpq_index(rest, path, txn=("app", 0))
    n1 = data().count()
    append_ivfpq_index(rest, path, txn=("app", 0))
    assert data().count() == n1 == n0
    assert (
        data().groupBy("vec_id").count().where("count > 1").count() == 0
    )


def test_ivfpq_residual_encoding(spark, tmp_path):
    """r12 residual IVFADC (the true Jégou composition): (a) on a
    PLANTED CLUSTERED corpus (4 separated integer centers + bounded
    hash noise) residual encoding beats raw encoding at identical
    budget — the coarse quantizer absorbs between-cell variance so
    the codes only carry the tight within-cell residuals; (b) with
    the planted centers prebuilt and enumerated codebooks over the
    actual residual frame, full-probe serving is EXACTLY brute-force
    L2 (python-recomputed); (c) residual appends encode against the
    frozen artifacts and replay idempotently."""
    from pyspark.sql import functions as F

    from pandabase_spark.operators.similarity import (
        ann_topk_ivfpq_indexed, append_ivfpq_index, cosine_topk,
        write_ivfpq_index,
    )

    base = spark.range(400).select(F.col("id").alias("vec_id"))
    # DENSE integer centers (every subspace carries between-cluster
    # variance — the regime residual encoding exists for)
    center = F.expr(
        "transform(sequence(1,16), i -> cast(4 * (pmod("
        "(vec_id % 4 + 1) * (i + 1), 5) - 2) as double))"
    )
    noise = F.expr(
        "transform(sequence(1,16), i -> "
        "cast(pmod(hash(vec_id, i), 5) - 2 as double) / 2.0)"
    )
    corpus = base.select(
        "vec_id", F.zip_with(center, noise, lambda a, b: a + b)
        .alias("embedding"),
    )
    probes = corpus.where("vec_id < 5")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(corpus, probes, k=10).collect()
    }
    recall = {}
    for tag, res in (("raw", False), ("residual", True)):
        path = str(tmp_path / tag)
        write_ivfpq_index(
            corpus, path, n_cells=4, m=8, n_codes=8, iters=3,
            residual=res,
        )
        got = {
            (r["query_id"], r["vec_id"])
            for r in ann_topk_ivfpq_indexed(
                spark, path, probes, k=10, nprobe=4
            ).collect()
        }
        recall[tag] = len(exact & got) / max(len(exact), 1)
    # deterministic corpus + deterministic training: a pinned fact
    # deterministic corpus + deterministic training: a pinned fact
    # (measured 0.66 vs 0.37 — between-cell variance the mean anchors
    # absorb is most of what raw codes waste their bits on)
    assert recall["residual"] >= recall["raw"] + 0.15, recall

    # (b) exact configuration: planted centers + enumerated residual
    # codebooks + full probe == brute-force L2, row for row
    centers = [
        [float(4 * (((j + 1) * (i + 2)) % 5 - 2)) for i in range(16)]
        for j in range(4)
    ]
    xpath = str(tmp_path / "exactr")
    write_ivfpq_index(
        corpus, xpath, centroids=centers, m=8, residual=True,
        exact_codebooks=True, anchors=centers,
    )
    rows = ann_topk_ivfpq_indexed(
        spark, xpath, probes, k=8, nprobe=4
    ).collect()
    pts = {r["vec_id"]: list(r["embedding"]) for r in corpus.collect()}
    for qid in range(5):
        qv = pts[qid]
        want = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(qv, v)), 6), vid)
            for vid, v in pts.items()
        )[:8]
        got_q = sorted(
            (r["approx_dist"], r["vec_id"])
            for r in rows
            if r["query_id"] == qid
        )
        assert got_q == want, qid

    # (c) residual append + replay convergence on the exact index
    from tests.test_index_compaction import index_rows

    data = lambda: index_rows(spark, xpath)
    n0 = data().count()
    extra = corpus.withColumn("vec_id", F.col("vec_id") + 10_000)
    append_ivfpq_index(extra, xpath, txn=("r", 0))
    n1 = data().count()
    append_ivfpq_index(extra, xpath, txn=("r", 0))
    assert data().count() == n1 == 2 * n0
    got2 = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_ivfpq_indexed(
            spark, xpath, probes, k=2, nprobe=4
        ).collect()
    }
    # each query's duplicate twin (exact same vector) must now appear
    # in its top-2 alongside the original — appended rows score
    # through the SAME residual path
    for qid in range(5):
        ids = {v for q, v in got2 if q == qid}
        assert ids == {qid, qid + 10_000}, (qid, ids)


def test_centroid_literal_rejects_nonfinite(spark, tmp_path):
    """A non-finite centroid component must fail the index build
    loudly: every probe distance against that cell would be NaN, so
    letting one through would silently persist a broken quantizer.
    Finite centroids round-trip through the artifacts file
    bit-exactly."""
    import os

    import pytest

    from pandabase_spark.operators.similarity import (
        _load_index, _write_artifacts,
    )

    path = str(tmp_path / "ix")
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            _write_artifacts(spark, path, "bad", [[1.0, 2.0], [0.5, bad]])
    assert not os.path.exists(path)
    name = _write_artifacts(spark, path, "ok", [[1.0, 2.5e-17], [-3.0, 4.0]])
    got = _load_index(spark, _claim_v1(path, name))
    assert got["centroids"] == [[1.0, 2.5e-17], [-3.0, 4.0]]
    assert got["residual"] is False


def test_ivfpq_shared_training_matches_sequential(spark, tmp_path):
    """The r14 builder-sharing seam: write_ivfpq_index training BOTH
    artifacts itself (one persisted sample + one seed TakeOrdered
    feeding both trainers) must produce an index identical to the
    sequential pipeline it replaced — standalone ivf_centroids,
    standalone pq_codebooks over the assigned corpus, injected into
    the writer: the same artifacts and the same encoded rows."""
    from pandabase_spark.operators.similarity import (
        _load_index, ivf_assign, ivf_centroids, pq_codebooks,
        write_ivfpq_index,
    )
    from tests.test_index_compaction import index_rows

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_centroids(emb, n_cells=8, iters=2, sample_mod=2)
    books = pq_codebooks(
        ivf_assign(emb, cents), m=8, k=16, iters=2, sample_mod=2
    )
    p_seq = str(tmp_path / "seq")
    p_shared = str(tmp_path / "shared")
    write_ivfpq_index(
        emb, p_seq, n_cells=8, m=8, n_codes=16, iters=2, sample_mod=2,
        centroids=cents, codebooks=books,
    )
    write_ivfpq_index(
        emb, p_shared, n_cells=8, m=8, n_codes=16, iters=2, sample_mod=2,
    )

    def artifacts(path):
        index = _load_index(spark, path)
        return [index[k] for k in ("centroids", "codebooks", "residual")]

    def rows(path):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["pq_code"]))
            for r in index_rows(spark, path).collect()
        )

    assert artifacts(p_seq) == artifacts(p_shared)
    assert rows(p_seq) == rows(p_shared)
