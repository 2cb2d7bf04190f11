"""Dedup + similarity operator tests: planted duplicates on literal
frames, plus LSH recall against the exact-Jaccard ground truth on the
driver fixture (SURVEY §7.1 item 7)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.vectors import cosine
from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import dedup, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, base, "en", "s0", 1),
        (1, base, "en", "s0", 1),                      # exact dup of 0
        (2, "  " + base.upper() + "  ", "en", "s0", 1),  # dup after normalize
        (3, base.replace("w20", "zz"), "en", "s0", 1),   # near-dup: 1 word off
        (4, "totally different words here now forever and ever again", "en", "s0", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return str(d)


def test_dedup_exact_keeps_min_id(spark, docs_dir):
    out = dedup.dedup_exact(spark, docs_dir).collect()
    groups = {r["keeper_doc_id"]: r["n_copies"] for r in out}
    # 0,1,2 normalize to the same text → keeper 0 with 3 copies
    assert groups[0] == 3
    assert groups[3] == 1 and groups[4] == 1


def test_ngram_jaccard_finds_near_dup_only(spark, docs_dir):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(spark, docs_dir).collect()
    }
    # exact dups: jaccard 1.0; near-dup 3 vs 0/1/2 shares most shingles
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] >= 0.8
    assert all(4 not in p for p in pairs)


def test_minhash_lsh_recall_vs_exact(spark):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, SF).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_near(spark, SF).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:  # recall on high-sim pairs should be ~1 with 8x4 bands
        assert len(lsh) / len(exact) >= 0.9


def test_embedding_lsh_recall_vs_exact_allpairs(spark):
    """The registered embedding near-dup is random-hyperplane LSH; its
    pairs must be a subset of (exact-cosine verify → no false positives)
    and nearly all of (recall ≥ the MinHash pack's 0.9 bar) the
    oracle-exact all-pairs GEMM ground truth."""
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.dedup_embedding_cosine_gemm(spark, SF).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.dedup_embedding_cosine(spark, SF).collect()
    }
    assert set(lsh) <= set(exact)
    assert len(lsh) / len(exact) >= 0.9
    for k, v in lsh.items():  # verified cosines agree with ground truth
        assert abs(v - exact[k]) < 1e-6


@pytest.mark.parametrize(
    "op", ["dedup_embedding_cosine", "dedup_embedding_cosine_prod"]
)
def test_embedding_lsh_plan_has_no_theta_join(spark, op):
    """Candidate generation must be an equi-join on (band, band_sig) —
    the plan may not contain a cartesian/broadcast-nested-loop stage —
    in BOTH banding geometries."""
    plan = (
        getattr(dedup, op)(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_identical_docs_zero_distance(spark, docs_dir):
    out = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.dedup_simhash(spark, docs_dir).collect()
    }
    assert out[(0, 1)] == 0  # identical docs → identical signature
    # near-dup doc 3 (1 of 40 tokens changed) lands within the threshold
    assert (0, 3) in out and out[(0, 3)] <= 6


def test_fuzzy_match_finds_planted_near_dup(spark, docs_dir):
    """Prefix-blocked levenshtein: identical docs 0/1 at distance 0; doc 3
    (one mid-text token changed, shared 20-char prefix) within threshold;
    doc 2 (uppercased → different prefix block) and doc 4 (different text)
    produce no pairs with the originals."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import text

    pairs = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in text.text_fuzzy_match(spark, docs_dir).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 3) in pairs and 0 < pairs[(0, 3)] <= 16
    assert all(2 not in p and 4 not in p for p in pairs)


def test_dedup_clusters_components(spark, docs_dir):
    """Docs 0,1,3 share ≥0.8 Jaccard pairs (0-1 exact, 0-3/1-3 near) →
    one component labeled by min id 0; 2 (uppercased) and 4 (different)
    are singletons in shingle space."""
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(spark, docs_dir).collect()
    }
    assert labels[0] == labels[1] == labels[3] == 0
    assert labels[2] == 2 and labels[4] == 4


def test_cosine_expression_identities(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [2.0, 0.0, 0.0])],
        "a array<float>, b array<float>, c array<float>",
    )
    row = df.select(
        cosine(F.col("a"), F.col("a")).alias("self"),
        cosine(F.col("a"), F.col("b")).alias("orth"),
        cosine(F.col("a"), F.col("c")).alias("scaled"),
    ).collect()[0]
    assert abs(row["self"] - 1.0) < 1e-12
    assert abs(row["orth"]) < 1e-12
    assert abs(row["scaled"] - 1.0) < 1e-12


def test_ann_ivf_subset_of_exact_candidates(spark):
    exact = similarity.sim_search_cosine(spark, SF)
    ann = similarity.sim_search_ann_ivf(spark, SF)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    # ANN probes 4/16 lists: results are a (possibly partial) approximation;
    # sanity: same shape, every query answered, recall reported not asserted
    assert len(a) == len(e) == 50
    recall = len(a & e) / len(e)
    assert recall >= 0.2  # loose floor; exact value depends on fixture geometry


def test_ivf_kmeans_recall_vs_exact(spark):
    """The trained-codebook IVF must reach >= the fixed-seed IVF's recall
    against the exact brute-force top-k (same probe budget), and clear an
    absolute floor."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        similarity,
    )

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk_sets(similarity.sim_search_cosine(spark, SF))
    fixed = topk_sets(similarity.sim_search_ann_ivf(spark, SF))
    trained = topk_sets(similarity.sim_search_ann_ivf_kmeans(spark, SF))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    r_fixed, r_trained = recall(fixed), recall(trained)
    assert r_trained >= 0.5, f"trained recall {r_trained}"
    assert r_trained >= r_fixed - 0.05, (r_trained, r_fixed)


def test_hll_sketch_estimates_within_tolerance(spark):
    """HLL estimates (per-year and union-merged overall) must be within
    5% of the exact distinct counts computed by the bitmap operator."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        sketches,
    )

    exact = {
        r["year"]: r["n_distinct_customers"]
        for r in sketches.agg_bitmap_distinct(spark, SF).collect()
    }
    approx = {
        r["year"]: r["approx_distinct"]
        for r in sketches.agg_hll_sketch_merge(spark, SF).collect()
    }
    assert set(exact) == set(approx)
    for y, n in exact.items():
        assert abs(approx[y] - n) <= max(2, 0.05 * n), (y, n, approx[y])


def test_embedding_prod_geometry_recall_on_planted_neardups(spark):
    """The production 12x8 geometry targets cosine >= 0.85 where the
    fixture's uniform vectors have no natural pairs, so recall is
    measured on PLANTED near-dups: each base vector gets a perturbed
    copy at cosine ~0.97. Precision stays exact (verify stage), recall
    must clear 0.95 (theory: 1-(1-p^8)^12 ~ 0.99 at p=1-acos(.97)/pi)."""
    import math
    import random

    import numpy as np

    rng = random.Random(7)
    n, d = 120, 32
    base = [[rng.gauss(0, 1) for _ in range(d)] for _ in range(n)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # perturbed copy: cos ~ 1/sqrt(1+eps^2) with eps*||g||/||v|| ~ 0.25
        g = np.array([rng.gauss(0, 1) for _ in range(d)])
        v = np.array(v)
        w = v + 0.25 * (np.linalg.norm(v) / np.linalg.norm(g)) * g
        rows.append((i + 100000, [float(x) for x in w]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ).alias("nrm"),
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.embedding_lsh_pairs(
            emb, dedup.RHP_BANDS_PROD, dedup.RHP_ROWS_PROD,
            dedup.COSINE_THRESHOLD_PROD,
        ).collect()
    }
    # ground truth via numpy all-pairs on the same rounded-cosine rule
    ids = [r[0] for r in rows]
    M = np.array([r[1] for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = np.round(Mn @ Mn.T, 6)
    exact = {
        (ids[i], ids[j]): C[i, j]
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and C[i, j] >= dedup.COSINE_THRESHOLD_PROD
    }
    assert len(exact) >= n * 0.9  # the plant worked: one pair per base vec
    assert set(got) <= set(exact)  # exact verify => no false positives
    recall = len(got) / len(exact)
    assert recall >= 0.95, f"prod-geometry recall {recall}"
    for k, v in got.items():
        assert math.isclose(v, exact[k], abs_tol=2e-6)


def test_semdedup_planted_recall_and_policy(spark):
    """SemDeDup: every planted exact copy must be dropped with its source
    as the strongest witness (cosine 1.0 after rounding), and every
    reported pair must share a cluster with keep < drop and
    cosine >= SEMDEDUP_TAU."""
    out = dedup.dedup_semantic_kmeans(spark, SF).collect()
    planted = {
        r["drop_vec"]: r for r in out if r["drop_vec"] >= dedup.PLANT_OFFSET
    }
    n_src = (
        similarity.read_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") % dedup.PLANT_MOD == 0)
        .count()
    )
    assert len(planted) == n_src  # recall 1 on planted copies
    for drop, r in planted.items():
        assert r["witness_vec"] == drop - dedup.PLANT_OFFSET
        assert r["cosine"] == 1.0
    for r in out:
        assert r["witness_vec"] < r["drop_vec"]
        assert r["cosine"] >= dedup.SEMDEDUP_TAU


def test_semdedup_pairs_are_within_cluster_only(spark):
    """The pair join must be cluster-partitioned: re-derive the
    assignment and check each reported (witness, drop) pair shares it.
    (The n^2/k cost bound rests on exactly this.)"""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.similarity import (
        IVF_K,
        KMEANS_ITERS,
        _train_kmeans_codebook_exact,
        assign_to_codebook,
    )

    emb = similarity.read_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    planted = emb.filter(F.col("neighbor_id") % dedup.PLANT_MOD == 0).select(
        (F.col("neighbor_id") + dedup.PLANT_OFFSET).alias("neighbor_id"), "ce"
    )
    corpus = emb.unionByName(planted)
    cent = _train_kmeans_codebook_exact(corpus, IVF_K, KMEANS_ITERS)
    cluster = {
        r["neighbor_id"]: r["list_id"]
        for r in assign_to_codebook(corpus, cent).collect()
    }
    for r in dedup.dedup_semantic_kmeans(spark, SF).collect():
        assert cluster[r["witness_vec"]] == cluster[r["drop_vec"]] == r["list_id"]


@pytest.fixture(scope="module")
def knn_dir(spark, tmp_path_factory):
    """Planted k-NN geometry: query 0 sits on axis e1 whose 5 nearest
    candidates vote 3-2 for label 7; query 1 on axis e2, 3-2 for label 2."""
    d = tmp_path_factory.mktemp("knn")
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),
        (1, [0.0, 1.0, 0.0, 0.0], 2),
        (10, [1.0, 0.01, 0.0, 0.0], 7),
        (11, [1.0, 0.02, 0.0, 0.0], 7),
        (12, [1.0, 0.03, 0.0, 0.0], 3),
        (13, [1.0, 0.04, 0.0, 0.0], 7),
        (14, [1.0, 0.05, 0.0, 0.0], 3),
        (15, [0.0, 1.0, 0.01, 0.0], 9),
        (16, [0.0, 1.0, 0.02, 0.0], 9),
        (17, [0.0, 1.0, 0.03, 0.0], 2),
        (18, [0.0, 1.0, 0.04, 0.0], 2),
        (19, [0.0, 1.0, 0.05, 0.0], 2),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return str(d)


def test_knn_classify_majority_vote(spark, knn_dir):
    out = {
        r["query_id"]: r
        for r in similarity.sim_knn_classify(spark, knn_dir).collect()
    }
    assert set(out) == {0, 1}
    assert out[0]["predicted_label"] == 7 and out[0]["votes"] == 3
    assert out[0]["true_label"] == 7 and out[0]["correct"] == 1
    assert out[1]["predicted_label"] == 2 and out[1]["votes"] == 3
    assert out[1]["correct"] == 1


def test_knn_classify_fixture_shape(spark):
    rows = similarity.sim_knn_classify(spark, SF).collect()
    assert len(rows) == 10  # one prediction per query vector
    assert all(1 <= r["votes"] <= 5 for r in rows)
    assert all(r["correct"] in (0, 1) for r in rows)


def test_ann_recall_evals_beat_chance(spark):
    """Round 15: the measured-recall twins of the compressed-code ANN
    searches (VERDICT r14 item 7). With 490 candidates and k=5, a random
    ranking's expected recall@5 is 5/490 ~= 0.0102; the sign-bit Hamming
    codes (64 bits) and PQ-ADC codes (4x3 bits, deterministic stand-in
    codebook) must clear it by a wide margin for the compression to mean
    anything. Measured at sf0.01: hamming ~0.24 (~24x chance), pq ~0.08
    (~8x chance)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
        similarity as sim,
    )

    n_cand = 500 - sim.N_QUERIES
    chance = sim.TOP_K / n_cand
    for fn, floor_mult in (
        (sim.sim_eval_recall_hamming, 10.0),
        # 12-bit PQ codes sit lower (sf0.001 fixture: mean 0.04 ~= 3.9x
        # chance; sf0.01: 0.08 ~= 7.8x) — floor at 2.5x so the test pins
        # "clearly better than random" without riding the fixture edge
        (sim.sim_eval_recall_pq_adc, 2.5),
        # IVF (16 lists / 4 probes, stand-in codebook): partition-pruning
        # loss only — fixture mean 0.46 (sf0.001) / 0.30 (sf0.01)
        (sim.sim_eval_recall_ivf, 10.0),
        # symmetric int8 keeps ~7 significant bits/dim: fixture mean 0.98
        # at both sfs — the top rung of the measured quantization ladder
        # (int8 0.98 >> hamming 0.24 >> pq 0.08); floor in absolute terms
        (sim.sim_eval_recall_int8, 0.9 / (sim.TOP_K / (500 - sim.N_QUERIES))),
    ):
        rows = fn(spark, SF).collect()
        assert len(rows) == sim.N_QUERIES
        assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in rows)
        assert all(0 <= r["n_hits"] <= sim.TOP_K for r in rows)
        mean = sum(r["recall_at_k"] for r in rows) / len(rows)
        assert mean >= floor_mult * chance, (fn.__name__, mean, chance)


def test_posting_pairs_with_reserved_position_name(spark):
    """posting_pairs derives its position column, so a posting frame that
    already carries ``__i`` (as a pass-through) keeps it untouched and the
    pairs are still every i<j of the list."""
    from itertools import combinations

    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.pairgen import (
        posting_pairs,
    )

    lists = {0: [1, 1, 2, 5], 1: [], 2: [7], 3: [3, 4]}
    posting = spark.createDataFrame(
        [(k, 100 + k, v) for k, v in lists.items()],
        "k long, __i long, ps array<long>",
    )
    got = sorted(
        tuple(r)
        for r in posting_pairs(posting, "ps", "a", "b", ("k", "__i")).collect()
    )
    want = sorted(
        (k, 100 + k, a, b) for k, v in lists.items() for a, b in combinations(v, 2)
    )
    assert got == want
