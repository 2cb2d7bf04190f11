"""Similarity search over embedding columns (SURVEY §2.10 X12 + north-star
ANN path).

- ``sim_search_cosine``: exact top-k — queries are broadcast against the
  candidate set; cosine is a codegen'd array expression; per-query rank
  window (partitioned by query id) selects k. The physical shape at scale:
  ONE pass over the big side, broadcast of the small query set, shuffle
  only of (candidates x queries) scored rows for the rank — or none when
  AQE keeps partitions local.

- ``sim_search_ann_ivf``: the sub-quadratic scale path — IVF-style coarse
  quantization. Fixed deterministic centroids (first K vectors) partition
  the corpus into inverted lists; a query probes only its P nearest lists.
  Scoring cost drops from |corpus| to ~P/K x |corpus| per query. Fully
  deterministic → oracle-checked (both engines compute identical
  assignments). Recall < 1 by construction; the exact twin above is the
  ground truth a test compares against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.iterate import fixpoint
from ..functions.numerics import _nearest_long_away, d38, dround, dsum_scaled
from ..functions.ranks import top_k
from ..functions.vectors import cosine, cosine_sql, dot
from ..io import read_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
IVF_K = 16  # coarse centroids: vec_id in [N_QUERIES, N_QUERIES + IVF_K)
IVF_PROBES = 4


# --- The retrieval stream: split, score, cut ---------------------------------
# Every search and eval key below is built from these devices; a no-Spark
# test (tests/test_registry_contract.py::test_retrieval_stream_has_one_owner)
# rejects any other query/corpus split or int8 quantizer in the engine.


def _sides(emb: DataFrame, **carry: tuple[str, str]) -> tuple[DataFrame, DataFrame]:
    """The query/corpus split: vectors with ``vec_id < N_QUERIES`` are the
    query block (``query_id``), the rest the corpus (``neighbor_id``).
    ``carry`` maps each column to keep to its (query-side, corpus-side)
    names; by default the embedding rides along as ``qe`` / ``ce``."""
    carry = carry or {"embedding": ("qe", "ce")}
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(k).alias(qn) for k, (qn, _) in carry.items()],
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(k).alias(cn) for k, (_, cn) in carry.items()],
    )
    return q, c


def _cosine_scored(q: DataFrame, c: DataFrame) -> DataFrame:
    """The exact scored stream: the query block broadcast onto ONE pass
    over the corpus, each pair scored by its 6-dp ``dround`` cosine (the
    module's total, engine-portable order). Every non-vector column of
    either side rides along, query-side ones after ``query_id``."""
    return c.join(F.broadcast(q)).select(
        "query_id",
        *[x for x in q.columns if x not in ("query_id", "qe")],
        "neighbor_id",
        *[x for x in c.columns if x not in ("neighbor_id", "ce")],
        dround(cosine(F.col("qe"), F.col("ce")), 6).alias("cosine"),
    )


def _int8_scaled(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization, step 1: each vector's ``scale`` =
    max|x| / 127 beside its ``embedding``. Zero vectors (scale 0) are
    dropped: nothing to quantize."""
    return emb.select(
        "vec_id",
        "embedding",
        (
            F.array_max(
                F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
            )
            / 127.0
        ).alias("scale"),
    ).filter(F.col("scale") > 0)


def _int8_code(x: Column) -> Column:
    """Step 2: the int8 code of one element of an ``_int8_scaled`` row,
    round(x / scale) with ties away from zero (``dround`` == DuckDB
    ROUND), so both engines produce bit-identical codes."""
    return dround(x.cast("double") / F.col("scale"), 0).cast("long")


def _int8_scored(emb: DataFrame) -> DataFrame:
    """The int8 MIPS scored stream: both sides quantized, each pair scored
    by the EXACT integer dot of its codes (|code| ≤ 127, far inside int64
    at any width) rescaled by the two scales, 6-dp ``dround``."""
    codes = _int8_scaled(emb).select(
        "vec_id", "scale", F.transform("embedding", _int8_code).alias("code")
    )
    q, c = _sides(codes, scale=("qs", "cs"), code=("qc", "cc"))
    int_dot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        dround(int_dot.cast("double") * F.col("qs") * F.col("cs"), 6).alias(
            "score"
        ),
    )


def _label_totals(per_q: DataFrame, c: DataFrame) -> DataFrame:
    """``per_q`` joined with the corpus size of its query's label
    (``n_rel_total``, the relevant-set size of the retrieval evals): a
    corpus aggregate broadcast back onto the per-query rows."""
    totals = c.groupBy(F.col("c_label").alias("q_label")).agg(
        F.count(F.lit(1)).alias("n_rel_total")
    )
    return per_q.join(F.broadcast(totals), "q_label")


def _codebook(emb: DataFrame) -> DataFrame:
    """The deterministic IVF codebook: the first ``IVF_K`` corpus vectors."""
    return emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + IVF_K)
    ).select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_e"))


def sim_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 — exact brute-force cosine top-k per query (the correctness
    baseline every ANN variant is measured against)."""
    q, c = _sides(read_table(spark, sf_dir, "embeddings"))
    return top_k(
        _cosine_scored(q, c),
        "query_id",
        TOP_K,
        F.col("cosine").desc(),
        "neighbor_id",
        name="rank",
    )


def sim_search_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN — IVF bucketed search:

    1. centroids = vectors with vec_id in [10, 26) (deterministic stand-in
       for a k-means codebook; at scale the codebook is trained offline and
       broadcast identically).
    2. invert: each candidate vector → its max-cosine centroid (rounded
       cosine + centroid-id tiebreak, so assignment is total and portable).
    3. probe: each query scores only candidates in its top-4 centroid lists.
    4. exact cosine + rank within the probed subset.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q, cand = _sides(emb)
    return _ivf_search(q, cand, _codebook(emb))


def assign_to_codebook(cand: DataFrame, cent: DataFrame) -> DataFrame:
    """Candidate → nearest codebook entry (rounded-cosine argmax with
    cent_id tiebreak, so the assignment is total and engine-portable):
    one broadcast pass over the corpus + a rank-1 window. Shared by the
    IVF inverted-list build, the k-means assign step and the SemDeDup
    cluster partitioning."""
    scored = cand.join(F.broadcast(cent)).select(
        "neighbor_id",
        "ce",
        "cent_id",
        dround(cosine(F.col("ce"), F.col("cent_e")), 6).alias("cc"),
    )
    return top_k(scored, "neighbor_id", 1, F.col("cc").desc(), "cent_id").select(
        "neighbor_id", "ce", F.col("cent_id").alias("list_id")
    )


def _ivf_search(q: DataFrame, cand: DataFrame, cent: DataFrame) -> DataFrame:
    """Shared IVF tail (invert → probe → score → rank) over any codebook:
    identical expressions for every variant, so a DETERMINISTIC codebook
    makes the whole search oracle-checkable."""
    # invert: candidate -> nearest centroid (one broadcast pass)
    assigned = assign_to_codebook(cand, cent)

    # probe lists per query
    q_scored = q.join(F.broadcast(cent)).select(
        "query_id",
        "qe",
        "cent_id",
        dround(cosine(F.col("qe"), F.col("cent_e")), 6).alias("qc"),
    )
    probes = top_k(
        q_scored, "query_id", IVF_PROBES, F.col("qc").desc(), "cent_id", name="rank"
    ).select(
        "query_id", "qe", F.col("cent_id").alias("list_id")
    )

    # search only probed lists
    scored = probes.join(assigned, "list_id").select(
        "query_id",
        "neighbor_id",
        dround(cosine(F.col("qe"), F.col("ce")), 6).alias("cosine"),
    )
    return top_k(
        scored, "query_id", TOP_K, F.col("cosine").desc(), "neighbor_id", name="rank"
    )


KMEANS_ITERS = 3


# micro-unit scale for the deterministic Lloyd's update: member components
# are summed as scaled int64 (exact, order-independent), so the centroid
# means are bit-identical across engines and partitionings
KMEANS_SCALE = 1_000_000.0


def _train_kmeans_codebook_exact(
    cand: DataFrame, k: int, iters: int
) -> DataFrame:
    """Distributed Lloyd's iterations, entirely as DataFrame ops (no
    ``collect`` — the codebook never visits the driver until broadcast).

    - init: the ``k`` lowest-vec_id candidates (deterministic seed).
    - assign: broadcast centroids, max-cosine argmax via a rank window.
    - update: ``posexplode`` each member vector; per-(centroid, dim)
      means accumulate as scaled int64 (``dround`` to micro-units —
      exact, commutative, partition-order-independent) and divide back
      once, so the trained codebook is bit-identical across engines and
      partitionings (an FP mean differs in the last bits per summation
      order, which can flip assignments); re-assemble ordered with
      ``sort_array(collect_list(struct(pos, m)))``.

    Empty clusters drop out (k shrinks) — standard Lloyd's behavior. At
    100 TB the codebook would be trained on a sample; the operator
    structure is unchanged."""
    cent = cand.orderBy("neighbor_id").limit(k).select(
        F.col("neighbor_id").alias("cent_id"),
        F.transform(F.col("ce"), lambda x: x.cast("double")).alias("cent_e"),
    )

    def lloyd(cent: DataFrame, _r: int) -> DataFrame:
        return (
            assign_to_codebook(cand, cent)
            .select(
                F.col("list_id").alias("cent_id"),
                F.posexplode("ce").alias("pos", "val"),
            )
            .groupBy("cent_id", "pos")
            .agg(
                F.sum(
                    dround(F.col("val").cast("double") * KMEANS_SCALE, 0)
                    .cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cent_id",
                "pos",
                (F.col("s").cast("double") / F.col("n") / KMEANS_SCALE)
                .alias("m"),
            )
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cent_e")
            )
        )

    # round 15: checkpoint each generation's k-row codebook — the next
    # iteration BROADCASTS it, and a mid-plan broadcast build
    # re-executes the whole chain above it (the graph_hits_scores
    # finding; rule 5)
    cent, _ = fixpoint(
        cent, lloyd, rounds=iters, name="_train_kmeans_codebook_exact"
    )
    return cent


def sim_search_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN, trained-codebook variant: IVF over a k-means
    codebook learned with distributed Lloyd's iterations instead of the
    fixed first-K seed. Better-centered lists → higher recall at the same
    probe budget (``tests/test_dedup_similarity.py`` measures it against
    the exact baseline). The deterministic scaled-int64 centroid update
    makes the ENTIRE pipeline — init, three assign/update rounds, invert,
    probe, rank — reproducible bit for bit and DuckDB-checkable (the
    oracle unrolls the same three Lloyd's iterations as CTE stages); the
    ``sim_search_ann_ivf_kmeans_exact`` key serves the same operator."""
    q, cand = _sides(read_table(spark, sf_dir, "embeddings"))
    cent = _train_kmeans_codebook_exact(cand, IVF_K, KMEANS_ITERS)
    return _ivf_search(q, cand, cent)


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the memory
    path for billion-vector ANN (4x smaller than float32, 8x than the
    double accumulate). Per vector: scale = max|x| / 127, q_d =
    round(x_d / scale) — one codegen'd array pass, then posexplode to
    (vec_id, dim, q) rows. Both engines compute the identical double
    quotient and the same ties-away rounding (``numerics.dround`` ==
    DuckDB ROUND == C round), so the int8 codes are bitwise-identical —
    quantization is oracle-checkable, not approximate. Zero vectors get
    NULL scale (dropped: nothing to quantize)."""
    scaled = _int8_scaled(read_table(spark, sf_dir, "embeddings"))
    return scaled.select(
        "vec_id",
        "scale",
        F.posexplode(F.col("embedding")).alias("dim0", "val"),
    ).select(
        "vec_id",
        # display scale is rounded; the quantization divides by the RAW
        # scale (rounding first would shift codes vs the oracle)
        dround("scale", 6).alias("scale"),
        (F.col("dim0") + 1).cast("int").alias("dim"),  # 1-based like SQL
        _int8_code(F.col("val")).cast("int").alias("q"),
    )


MRL_DIM = 16  # truncation prefix length (Matryoshka nesting level)


def embedding_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix truncation + L2 renormalization — the
    standard dimensionality/cost ladder for MRL-trained embeddings: keep
    the first ``MRL_DIM`` coordinates, renormalize to unit length, and
    report how much of the original norm the prefix retains (the quality
    diagnostic that decides whether the cheap tier is usable). One
    codegen'd array pass per vector (slice → fold → divide), zero
    shuffle until the explode; at billion-vector scale this runs as a
    map-only rewrite of the embedding column. Exploded to (vec_id, dim,
    v) rows with 6-dp rounding so the DuckDB oracle hash-matches (same
    left-fold double accumulation as every cosine operator here). Zero
    prefixes (norm 0) are dropped: nothing to renormalize."""
    from ..functions.vectors import l2_norm

    emb = read_table(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id",
        F.slice("embedding", 1, MRL_DIM).alias("prefix"),
        l2_norm(F.col("embedding")).alias("full_nrm"),
    ).select(
        "vec_id",
        "prefix",
        "full_nrm",
        l2_norm(F.col("prefix")).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    ex = normed.select(
        "vec_id",
        "nrm",
        (F.col("nrm") / F.col("full_nrm")).alias("retained"),
        F.posexplode("prefix").alias("dim0", "val"),
    )
    return ex.select(
        "vec_id",
        dround("nrm", 6).alias("prefix_norm"),
        dround("retained", 6).alias("norm_retained"),
        (F.col("dim0") + 1).cast("int").alias("dim"),
        dround(F.col("val").cast("double") / F.col("nrm"), 6).alias("v"),
    )


def sim_search_int8_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized maximum-inner-product search — the search tier that
    makes :func:`embedding_quantize_int8`'s memory ladder usable: both
    sides are symmetric-int8 quantized (scale = max|x|/127, ties-away
    rounding), scored with an EXACT integer dot product (|code| ≤ 127,
    dim-bounded → sums far inside int64), then rescaled by the two
    per-vector scales. Everything up to the rank window is codegen'd
    array math over a broadcast of the 10 query codes — one pass over
    the candidate side, identical physical shape to
    :func:`sim_search_cosine`. Because quantization and the integer dot
    are bit-deterministic in both engines (unlike float cosine ORDER,
    which is still deterministic here only via the rounding convention),
    the whole top-k is oracle-checked, scores included. Zero vectors
    (scale 0) are dropped on both sides."""
    scored = _int8_scored(read_table(spark, sf_dir, "embeddings"))
    return top_k(
        scored, "query_id", TOP_K, F.col("score").desc(), "neighbor_id", name="rank"
    )


QUERIES = {
    "sim_search_cosine": sim_search_cosine,
    "sim_search_int8_mips": sim_search_int8_mips,
    "sim_search_ann_ivf": sim_search_ann_ivf,
    "sim_search_ann_ivf_kmeans": sim_search_ann_ivf_kmeans,
    "sim_search_ann_ivf_kmeans_exact": sim_search_ann_ivf_kmeans,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_matryoshka_truncate": embedding_matryoshka_truncate,
}


def kmeans_unroll_parts(k: int, iters: int) -> tuple[list[str], str]:
    """SQL CTE parts for the deterministic Lloyd's unroll over a CTE
    named ``cand(neighbor_id, ce)``: init = first-k ids, then per
    iteration assign (cross join + rank-1 window) and update
    (per-(centroid, dim) scaled-int64 mean rebuilt into an ordered
    list). Returns (parts, name-of-final-centroid-CTE). Shared by the
    IVF-k-means oracle and the SemDeDup oracle (operators/dedup.py)."""
    cos_cc = cosine_sql("ce", "cent_e")
    parts = [
        "cent0 AS (SELECT neighbor_id AS cent_id, "
        "CAST(ce AS DOUBLE[]) AS cent_e FROM cand "
        f"ORDER BY neighbor_id LIMIT {k})",
    ]
    prev = "cent0"
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT neighbor_id, ce, cent_id, "
            "ROW_NUMBER() OVER (PARTITION BY neighbor_id "
            f"ORDER BY ROUND({cos_cc}, 6) DESC, cent_id) AS rn "
            f"FROM cand CROSS JOIN {prev})"
        )
        parts.append(
            f"e{i} AS (SELECT cent_id, "
            "generate_subscripts(CAST(ce AS DOUBLE[]), 1) AS pos, "
            f"unnest(CAST(ce AS DOUBLE[])) AS val FROM a{i} WHERE rn = 1)"
        )
        parts.append(
            f"cent{i} AS (SELECT cent_id, list(m ORDER BY pos) AS cent_e "
            "FROM (SELECT cent_id, pos, "
            "CAST(SUM(CAST(ROUND(val * 1000000.0, 0) AS BIGINT)) AS DOUBLE)"
            " / COUNT(*) / 1000000.0 AS m "
            f"FROM e{i} GROUP BY cent_id, pos) GROUP BY cent_id)"
        )
        prev = f"cent{i}"
    return parts, prev


def _kmeans_exact_oracle_sql() -> str:
    """DuckDB twin of the deterministic-k-means IVF search: the three
    Lloyd's iterations unroll into CTE stages (assign = cross join +
    rank-1 window; update = per-(centroid, dim) scaled-int64 mean
    rebuilt into an ordered list), then the shared IVF tail."""
    cos_cc = cosine_sql("ce", "cent_e")
    cos_qc = cosine_sql("qe", "cent_e")
    parts = [
        f"cand AS (SELECT vec_id AS neighbor_id, embedding AS ce "
        f"FROM embeddings WHERE vec_id >= {N_QUERIES})",
        f"q AS (SELECT vec_id AS query_id, embedding AS qe "
        f"FROM embeddings WHERE vec_id < {N_QUERIES})",
    ]
    unroll, prev = kmeans_unroll_parts(IVF_K, KMEANS_ITERS)
    parts += unroll
    parts += [
        "cs AS (SELECT neighbor_id, ce, cent_id, "
        "ROW_NUMBER() OVER (PARTITION BY neighbor_id "
        f"ORDER BY ROUND({cos_cc}, 6) DESC, cent_id) AS rn "
        f"FROM cand CROSS JOIN {prev})",
        "assigned AS (SELECT neighbor_id, ce, cent_id AS list_id FROM cs "
        "WHERE rn = 1)",
        "qs AS (SELECT query_id, qe, cent_id, "
        "ROW_NUMBER() OVER (PARTITION BY query_id "
        f"ORDER BY ROUND({cos_qc}, 6) DESC, cent_id) AS rn "
        f"FROM q CROSS JOIN {prev})",
        "probes AS (SELECT query_id, qe, cent_id AS list_id FROM qs "
        f"WHERE rn <= {IVF_PROBES})",
        "scored AS (SELECT query_id, neighbor_id, "
        f"ROUND({cosine_sql('p.qe', 'a.ce')}, 6) AS cosine "
        "FROM probes p JOIN assigned a USING (list_id))",
        "r AS (SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
        "FROM scored)",
    ]
    return (
        "WITH " + ", ".join(parts)
        + " SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank "
        f"FROM r WHERE rank <= {TOP_K}"
    )

_COS_QC = cosine_sql("q.qe", "c.ce")

ORACLE = {
    "sim_search_cosine": (
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qe "
        f"FROM embeddings WHERE vec_id < {N_QUERIES}), "
        f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce "
        f"FROM embeddings WHERE vec_id >= {N_QUERIES}), "
        f"s AS (SELECT query_id, neighbor_id, ROUND({_COS_QC}, 6) AS cosine "
        "FROM q CROSS JOIN c), "
        "r AS (SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
        f"FROM s) SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank "
        f"FROM r WHERE rank <= {TOP_K}"
    ),
    "sim_search_ann_ivf": (
        "WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_e "
        f"FROM embeddings WHERE vec_id >= {N_QUERIES} "
        f"AND vec_id < {N_QUERIES + IVF_K}), "
        f"cand AS (SELECT vec_id AS neighbor_id, embedding AS ce "
        f"FROM embeddings WHERE vec_id >= {N_QUERIES}), "
        f"q AS (SELECT vec_id AS query_id, embedding AS qe "
        f"FROM embeddings WHERE vec_id < {N_QUERIES}), "
        "cs AS (SELECT neighbor_id, ce, cent_id, "
        f"ROUND({cosine_sql('ce', 'cent_e')}, 6) AS cc, "
        "ROW_NUMBER() OVER (PARTITION BY neighbor_id ORDER BY "
        f"ROUND({cosine_sql('ce', 'cent_e')}, 6) DESC, cent_id) AS rn "
        "FROM cand CROSS JOIN cent), "
        "assigned AS (SELECT neighbor_id, ce, cent_id AS list_id FROM cs "
        "WHERE rn = 1), "
        "qs AS (SELECT query_id, qe, cent_id, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY "
        f"ROUND({cosine_sql('qe', 'cent_e')}, 6) DESC, cent_id) AS rn "
        "FROM q CROSS JOIN cent), "
        f"probes AS (SELECT query_id, qe, cent_id AS list_id FROM qs "
        f"WHERE rn <= {IVF_PROBES}), "
        "scored AS (SELECT query_id, neighbor_id, "
        f"ROUND({cosine_sql('p.qe', 'a.ce')}, 6) AS cosine "
        "FROM probes p JOIN assigned a USING (list_id)), "
        "r AS (SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
        "FROM scored) "
        "SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank "
        f"FROM r WHERE rank <= {TOP_K}"
    ),
    "sim_search_ann_ivf_kmeans": _kmeans_exact_oracle_sql(),
    "sim_search_ann_ivf_kmeans_exact": _kmeans_exact_oracle_sql(),
    "embedding_quantize_int8": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings), "
        "s AS (SELECT vec_id, emb, "
        "list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale "
        "FROM e WHERE list_max(list_transform(emb, x -> abs(x))) > 0) "
        "SELECT vec_id, ROUND(scale, 6) AS scale, "
        "CAST(generate_subscripts(emb, 1) AS INT) AS dim, "
        "CAST(ROUND(unnest(emb) / scale) AS INT) AS q FROM s"
    ),
    # int8 MIPS: the integer dot is exact in both engines (|code| <= 127,
    # 32 dims → |dot| <= 520k); ROUND(x/scale) == dround ties-away; the
    # double rescale multiplies in the same order (dot * qs * cs)
    "sim_search_int8_mips": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings), "
        "s AS (SELECT vec_id, emb, "
        "list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale "
        "FROM e WHERE list_max(list_transform(emb, x -> abs(x))) > 0), "
        "codes AS (SELECT vec_id, scale, "
        "list_transform(emb, x -> CAST(ROUND(x / scale) AS BIGINT)) AS code "
        "FROM s), "
        f"q AS (SELECT vec_id AS query_id, scale AS qs, code AS qc "
        f"FROM codes WHERE vec_id < {N_QUERIES}), "
        f"c AS (SELECT vec_id AS neighbor_id, scale AS cs, code AS cc "
        f"FROM codes WHERE vec_id >= {N_QUERIES}), "
        "sc AS (SELECT query_id, neighbor_id, "
        "ROUND(list_dot_product(qc, cc) * qs * cs, 6) AS score "
        "FROM q CROSS JOIN c), "
        "r AS (SELECT query_id, neighbor_id, score, ROW_NUMBER() OVER ("
        "PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank "
        "FROM sc) "
        "SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank "
        f"FROM r WHERE rank <= {TOP_K}"
    ),
    # prefix truncation + renormalize: list_slice is 1-based inclusive
    # (== F.slice(col, 1, MRL_DIM)); norms via list_dot_product over
    # DOUBLE[] — the same accumulation the Spark left-fold performs
    "embedding_matryoshka_truncate": (
        "WITH p AS (SELECT vec_id, "
        "CAST(embedding AS DOUBLE[]) AS full_e, "
        f"CAST(list_slice(embedding, 1, {MRL_DIM}) AS DOUBLE[]) AS prefix "
        "FROM embeddings), "
        "n AS (SELECT vec_id, prefix, "
        "sqrt(list_dot_product(full_e, full_e)) AS full_nrm, "
        "sqrt(list_dot_product(prefix, prefix)) AS nrm "
        "FROM p) "
        "SELECT vec_id, ROUND(nrm, 6) AS prefix_norm, "
        "ROUND(nrm / full_nrm, 6) AS norm_retained, "
        "CAST(generate_subscripts(prefix, 1) AS INT) AS dim, "
        "ROUND(unnest(prefix) / nrm, 6) AS v "
        "FROM n WHERE nrm > 0"
    ),
}


# --- Hybrid retrieval: reciprocal-rank fusion ------------------------------

RRF_K = 60        # the standard RRF damping constant (Cormack et al. 2009)
RRF_POOL = 50     # per-modality candidate pool fed into the fusion
RRF_TOPK = 20
RRF_QUERY_VEC = 0  # the semantic query: vec_id 0 (doc_ids == vec_ids)


def sim_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval with **reciprocal-rank fusion**
    (Cormack et al. 2009) — the standard way a RAG stack combines a BM25
    list and a vector-search list without score calibration:
    ``rrf(d) = Σ_lists 1/(60 + rank_list(d))``.

    - lexical list: the shared BM25 scored set (``text.bm25_scores``,
      same inverted-index shape) cut to ``RRF_POOL`` by a TakeOrdered;
    - semantic list: exact cosine of every other vector against the
      broadcast query vector (vec_id 0), same TakeOrdered cut;
    - fusion: FULL OUTER equi-join of two 50-row lists (trivially
      broadcastable at any corpus size — the pools are constant-sized),
      missing membership contributes 0 exactly as published.

    Ranks are positions in (rounded score desc, id) order — total and
    engine-portable — so the fused output is hash-checked end to end.
    The per-modality pool ranking happens AFTER the TakeOrdered cut:
    a 50-row window, never a global corpus sort."""
    from pyspark.sql import Window as W

    from ..functions.numerics import dround
    from .text import bm25_scores

    lex_pool = (
        bm25_scores(spark, sf_dir)
        .select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    w_lex = W.orderBy(F.col("bm25").desc(), "doc_id")
    lex = lex_pool.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )

    emb = read_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("embedding").alias("qe")
    )
    sem_pool = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            dround(cosine(F.col("qe"), F.col("embedding")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    w_sem = W.orderBy(F.col("cos").desc(), "doc_id")
    sem = sem_pool.select(
        "doc_id", F.row_number().over(w_sem).alias("sem_rank")
    )

    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.coalesce(
        1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0))
    return (
        fused.select(
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            dround(rrf, 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(RRF_TOPK)
    )


QUERIES["sim_search_hybrid_rrf"] = sim_search_hybrid_rrf


def _hybrid_rrf_oracle_sql() -> str:
    from .text import bm25_oracle_parts

    parts, bm25_scored = bm25_oracle_parts()
    cos = cosine_sql("c.embedding", "q.qe")
    parts += [
        f"bscored AS ({bm25_scored})",
        "lexpool AS (SELECT doc_id, bm25 FROM bscored "
        f"ORDER BY bm25 DESC, doc_id LIMIT {RRF_POOL})",
        "lex AS (SELECT doc_id, ROW_NUMBER() OVER "
        "(ORDER BY bm25 DESC, doc_id) AS lex_rank FROM lexpool)",
        "qv AS (SELECT embedding AS qe FROM embeddings "
        f"WHERE vec_id = {RRF_QUERY_VEC})",
        "sempool AS (SELECT c.vec_id AS doc_id, "
        f"ROUND({cos}, 6) AS cos FROM embeddings c CROSS JOIN qv q "
        f"WHERE c.vec_id <> {RRF_QUERY_VEC} "
        f"ORDER BY cos DESC, doc_id LIMIT {RRF_POOL})",
        "sem AS (SELECT doc_id, ROW_NUMBER() OVER "
        "(ORDER BY cos DESC, doc_id) AS sem_rank FROM sempool)",
        "fused AS (SELECT doc_id, lex_rank, sem_rank FROM lex "
        "FULL JOIN sem USING (doc_id))",
    ]
    return (
        "WITH " + ", ".join(parts)
        + " SELECT doc_id, CAST(lex_rank AS INT) AS lex_rank, "
        "CAST(sem_rank AS INT) AS sem_rank, "
        f"ROUND(COALESCE(1.0 / ({RRF_K} + lex_rank), 0.0) "
        f"+ COALESCE(1.0 / ({RRF_K} + sem_rank), 0.0), 6) AS rrf "
        f"FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}"
    )


ORACLE["sim_search_hybrid_rrf"] = _hybrid_rrf_oracle_sql()


# --- Hard-negative mining (DPR / ANCE) -------------------------------------

HN_LO = 0.2  # band floor: below this, negatives are trivially easy
HN_HI = 0.35  # band ceiling: above this, treat as positive/near-dup
HN_K = 5


def sim_search_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **hard-negative mining** for retrieval/embedding
    training (DPR, Karpukhin et al. 2020; ANCE, Xiong et al. 2021): for
    each query, the top-k candidates whose cosine falls in the
    [``HN_LO``, ``HN_HI``) band — similar enough to be confusable,
    below the positive/near-dup ceiling — the pairs that actually move
    a contrastive loss. The band constants are calibrated to the
    fixture's near-random cosine geometry (p90 ≈ 0.16, max ≈ 0.49; a
    production embedding space would sit near the usual 0.5/0.9): the
    band holds the top few percent of each query's candidates without
    touching the trivially-easy bulk.

    Shares `sim_search_cosine`'s exact scored stream (broadcast query
    block over the candidate scan, JVM-codegen array math); the band
    filter applies to the ROUNDED 6 dp cosine so the boundary is
    engine-portable, then one per-query rank window cuts the top-k. At
    production scale the scored stream swaps to the IVF candidate lists
    (`sim_search_ann_ivf`) with the band+rank stages unchanged — the
    mining pass is a filter over whatever scorer feeds it.
    """
    q, c = _sides(read_table(spark, sf_dir, "embeddings"))
    band = _cosine_scored(q, c).filter(
        (F.col("cosine") >= HN_LO) & (F.col("cosine") < HN_HI)
    )
    return top_k(
        band, "query_id", HN_K, F.col("cosine").desc(), "neighbor_id", name="rank"
    )


QUERIES["sim_search_hard_negatives"] = sim_search_hard_negatives

ORACLE["sim_search_hard_negatives"] = (
    f"WITH q AS (SELECT vec_id AS query_id, embedding AS qe "
    f"FROM embeddings WHERE vec_id < {N_QUERIES}), "
    f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce "
    f"FROM embeddings WHERE vec_id >= {N_QUERIES}), "
    f"s AS (SELECT query_id, neighbor_id, ROUND({_COS_QC}, 6) "
    "AS cosine FROM q CROSS JOIN c), "
    f"b AS (SELECT * FROM s WHERE cosine >= {HN_LO} AND cosine < {HN_HI}), "
    "r AS (SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER ("
    "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
    "FROM b) SELECT query_id, neighbor_id, cosine, "
    f"CAST(rank AS INT) AS rank FROM r WHERE rank <= {HN_K}"
)


def _sign_words(col: str, n_words: int = 2, word_bits: int = 32):
    """Sign-bit binary quantization of an embedding array into
    ``n_words`` x ``word_bits``-bit integer words (bit i of word w set
    iff ``emb[w*word_bits + i] > 0``). 32 bits per int64 word keeps
    every value positive and well inside BIGINT in both engines (no
    sign-bit-63 portability trap). All JVM-side higher-order functions —
    zero UDF, zero explode."""
    words = []
    for w in range(n_words):
        off = w * word_bits
        words.append(
            F.when(
                F.size(F.col(col)) >= (w + 1) * word_bits,
                F.expr(
                    f"aggregate(transform(sequence(0, {word_bits - 1}), "
                    f"i -> IF(element_at({col}, i + {off} + 1) > 0D, "
                    "shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), "
                    "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), "
                    "(acc, x) -> acc + x)"
                ),
            ).alias(f"w{w}")
        )
    return words


def sim_search_hamming_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN — **binary (sign) quantization + Hamming top-k**
    (Charikar STOC'02 hyperplane-LSH limit case; the "binary embedding"
    compression every production vector store ships): each 64-dim float
    vector collapses to 2 int64 words of sign bits — a 32x memory
    reduction — and distance becomes two XOR+popcount ops per pair
    instead of 64 FMAs. The scan here is the exact-over-compressed-codes
    baseline (broadcast 10-query side, one pass over candidates, rank
    window per query); at 100 TB the same codes feed the pigeonhole
    band-bucketing already demonstrated by ``dedup_simhash`` (any pair
    within Hamming r shares an exact band among r+1 bands), so candidate
    generation stays sub-quadratic while THIS operator's arithmetic is
    the verifier. Fully deterministic (sign compare + integer popcount)
    → hash-checked against the DuckDB twin.

    Reference scope: `dashboard_nfp.py` has no vector search; this is
    part of the driver-mandated LLM-pipeline pack (embedding column
    family, with `embedding_quantize_int8` / `sim_search_int8_mips`)."""
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= 64
    )
    words = emb.select("vec_id", *_sign_words("embedding"))
    q, c = _sides(words, w0=("q0", "c0"), w1=("q1", "c1"))
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (
            F.bit_count(F.col("q0").bitwiseXOR(F.col("c0")))
            + F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
        ).cast("int").alias("hamming"),
    )
    return top_k(scored, "query_id", TOP_K, "hamming", "neighbor_id", name="rank")


QUERIES["sim_search_hamming_binary"] = sim_search_hamming_binary

_HAM_W0 = (
    "CAST(list_sum(list_transform(range(32), "
    "i -> CASE WHEN embedding[i + 1] > 0 "
    "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
)
_HAM_W1 = (
    "CAST(list_sum(list_transform(range(32), "
    "i -> CASE WHEN embedding[i + 33] > 0 "
    "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
)

ORACLE["sim_search_hamming_binary"] = (
    f"WITH b AS (SELECT vec_id, {_HAM_W0} AS w0, {_HAM_W1} AS w1 "
    "FROM embeddings WHERE len(embedding) >= 64), "
    f"q AS (SELECT vec_id AS query_id, w0, w1 FROM b "
    f"WHERE vec_id < {N_QUERIES}), "
    f"c AS (SELECT vec_id AS neighbor_id, w0, w1 FROM b "
    f"WHERE vec_id >= {N_QUERIES}), "
    "s AS (SELECT query_id, neighbor_id, "
    "CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS INT) "
    "AS hamming FROM q CROSS JOIN c), "
    "r AS (SELECT query_id, neighbor_id, hamming, ROW_NUMBER() OVER ("
    "PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank FROM s) "
    "SELECT query_id, neighbor_id, hamming, CAST(rank AS INT) AS rank "
    f"FROM r WHERE rank <= {TOP_K}"
)


# --- Product quantization (PQ) asymmetric-distance search --------------------

PQ_M = 4      # subspaces
PQ_DSUB = 16  # dims per subspace (4 x 16 = the fixture's 64)
PQ_K = 8      # centroids per subspace codebook


def _sub_d2(a, b):
    """Squared L2 distance between two equal-length float subvectors as a
    sequential double fold (bitwise == DuckDB ``list_dot_product`` of the
    difference list with itself)."""
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v * v)


def sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN — **product quantization with asymmetric distance
    computation** (Jégou/Douze/Schmid PAMI'11), the compression behind
    every billion-vector FAISS deployment: vectors collapse to
    ``PQ_M`` 3-bit codes (argmin-centroid per 16-dim subspace), and a
    query scores a candidate with ``PQ_M`` table lookups + adds instead
    of 64 multiply-adds — the lookup tables (query x subspace x
    centroid partial dots) are tiny and broadcast. 64 floats → 4 codes
    is a 64x storage cut; at 100 TB the codes column scans at memory
    bandwidth and the 4 broadcast-joined lookup tables replace all
    vector arithmetic on the big side.

    Deterministic stand-in codebook (the ``sim_search_ann_ivf`` device):
    centroids are the subvectors of vec_id ∈ [N_QUERIES, N_QUERIES+PQ_K)
    — at scale the codebook is k-means-trained offline and broadcast
    identically (`sim_search_ann_ivf_kmeans` demonstrates the training
    loop). Assignment uses 6-dp-rounded distances with centroid-id
    tiebreak so codes are total and portable; every emitted double is a
    fixed-order fold → fully hash-checked against the DuckDB twin.

    Reference scope: LLM-pipeline pack (no vector search in
    `dashboard_nfp.py`); completes the ANN compression family (IVF
    probe / LSH bands / sign-bit Hamming / int8 MIPS / PQ-ADC)."""
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= PQ_M * PQ_DSUB
    )
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    cb = (
        emb.filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
        .crossJoin(F.broadcast(ms))
        .select(
            "m",
            (F.col("vec_id") - N_QUERIES).cast("int").alias("j"),
            F.slice(
                "embedding", F.col("m") * PQ_DSUB + 1, PQ_DSUB
            ).alias("cv"),
        )
    )
    # encode the corpus: nearest centroid per (candidate, subspace)
    q, cand = _sides(emb)
    enc = cand.crossJoin(F.broadcast(cb)).select(
        "neighbor_id",
        "m",
        "j",
        dround(
            _sub_d2(
                F.slice("ce", F.col("m") * PQ_DSUB + 1, PQ_DSUB),
                F.col("cv"),
            ),
            6,
        ).alias("d2"),
    )
    codes = (
        enc.groupBy("neighbor_id", "m")
        .agg(F.min(F.struct("d2", "j")).alias("s"))
        .select("neighbor_id", "m", F.col("s.j").alias("code"))
    )
    codes_w = (
        codes.groupBy("neighbor_id")
        .pivot("m", list(range(PQ_M)))
        .agg(F.first("code"))
        .select(
            "neighbor_id",
            *[F.col(str(m)).alias(f"c{m}") for m in range(PQ_M)],
        )
    )
    # ADC lookup tables: query x subspace x centroid partial dot products
    pdt = q.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "m",
        "j",
        dround(
            dot(
                F.slice("qe", F.col("m") * PQ_DSUB + 1, PQ_DSUB),
                F.col("cv"),
            ),
            6,
        ).alias("p"),
    )
    scored = codes_w
    for m in range(PQ_M):
        pm = pdt.filter(F.col("m") == m).select(
            F.col("query_id").alias(f"qid{m}"),
            F.col("j").alias(f"j{m}"),
            F.col("p").alias(f"p{m}"),
        )
        cond = scored[f"c{m}"] == pm[f"j{m}"]
        if m > 0:
            cond = cond & (F.col("qid0") == pm[f"qid{m}"])
        scored = scored.join(F.broadcast(pm), cond)
    score = dround(
        ((F.col("p0") + F.col("p1")) + F.col("p2")) + F.col("p3"), 6
    )
    ranked = scored.select(
        F.col("qid0").alias("query_id"),
        "neighbor_id",
        score.alias("score"),
    )
    return top_k(
        ranked, "query_id", TOP_K, F.col("score").desc(), "neighbor_id", name="rank"
    )


QUERIES["sim_search_pq_adc"] = sim_search_pq_adc

ORACLE["sim_search_pq_adc"] = (
    "WITH mm AS (SELECT CAST(range AS INT) AS m FROM range(4)), "
    f"cb AS (SELECT mm.m, CAST(vec_id - {N_QUERIES} AS INT) AS j, "
    "CAST(embedding[16*mm.m + 1 : 16*mm.m + 16] AS DOUBLE[]) AS cv "
    f"FROM embeddings, mm WHERE vec_id >= {N_QUERIES} "
    f"AND vec_id < {N_QUERIES + PQ_K} AND len(embedding) >= 64), "
    "cand AS (SELECT vec_id AS neighbor_id, embedding AS ce "
    f"FROM embeddings WHERE vec_id >= {N_QUERIES} "
    "AND len(embedding) >= 64), "
    "enc AS (SELECT neighbor_id, m, j, "
    "ROUND(list_dot_product(d, d), 6) AS d2 FROM ("
    "SELECT neighbor_id, cb.m, cb.j, list_transform(range(16), "
    "i -> CAST(ce[16*cb.m + i + 1] AS DOUBLE) - cv[i + 1]) AS d "
    "FROM cand, cb)), "
    "codes AS (SELECT neighbor_id, m, j AS code FROM ("
    "SELECT neighbor_id, m, j, ROW_NUMBER() OVER ("
    "PARTITION BY neighbor_id, m ORDER BY d2, j) AS rn FROM enc) "
    "WHERE rn = 1), "
    "cw AS (SELECT neighbor_id, "
    "MAX(CASE WHEN m = 0 THEN code END) AS c0, "
    "MAX(CASE WHEN m = 1 THEN code END) AS c1, "
    "MAX(CASE WHEN m = 2 THEN code END) AS c2, "
    "MAX(CASE WHEN m = 3 THEN code END) AS c3 "
    "FROM codes GROUP BY 1), "
    "pdt AS (SELECT vec_id AS query_id, cb.m, cb.j, "
    "ROUND(list_dot_product("
    "CAST(embedding[16*cb.m + 1 : 16*cb.m + 16] AS DOUBLE[]), cv), 6) "
    f"AS p FROM embeddings, cb WHERE vec_id < {N_QUERIES} "
    "AND len(embedding) >= 64), "
    "s AS (SELECT p0.query_id, cw.neighbor_id, "
    "ROUND(((p0.p + p1.p) + p2.p) + p3.p, 6) AS score "
    "FROM cw "
    "JOIN pdt p0 ON p0.m = 0 AND p0.j = cw.c0 "
    "JOIN pdt p1 ON p1.m = 1 AND p1.j = cw.c1 "
    "AND p1.query_id = p0.query_id "
    "JOIN pdt p2 ON p2.m = 2 AND p2.j = cw.c2 "
    "AND p2.query_id = p0.query_id "
    "JOIN pdt p3 ON p3.m = 3 AND p3.j = cw.c3 "
    "AND p3.query_id = p0.query_id), "
    "r AS (SELECT query_id, neighbor_id, score, ROW_NUMBER() OVER ("
    "PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank "
    "FROM s) SELECT query_id, neighbor_id, score, "
    f"CAST(rank AS INT) AS rank FROM r WHERE rank <= {TOP_K}"
)


# --- k-NN majority-vote classification (Fix & Hodges 1951) -------------------


def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **k-nearest-neighbor classification** over the
    embedding corpus (Fix & Hodges 1951; Cover & Hart, IEEE IT 1967):
    each query vector is labelled by the majority vote of its k=5
    nearest labelled neighbors — the canonical END USE of a similarity
    index, closing the loop on the whole `sim_search_*` family (the
    search operators produce neighbor lists; this one consumes them).

    Shares `sim_search_cosine`'s exact scored stream verbatim (broadcast
    query side, one corpus pass, per-query rank window), then the vote
    is a k-row-per-query aggregate: votes per (query, label) with the
    winner chosen by (votes DESC, best cosine DESC, label ASC) — a total
    order on exact integers + 6-dp-rounded doubles, so the prediction is
    engine-portable. At 100 TB the scored stream is the ANN variant
    (IVF / PQ / Hamming — same rank contract), and the vote stays a
    k-row aggregate per query: classification cost is search cost.

    vs reference: no analogue (`dashboard_nfp.py` has no vector surface).
    """
    q, c = _sides(
        read_table(spark, sf_dir, "embeddings"),
        embedding=("qe", "ce"),
        label=("true_label", "nb_label"),
    )
    nn = top_k(
        _cosine_scored(q, c),
        "query_id",
        TOP_K,
        F.col("cosine").desc(),
        "neighbor_id",
        name="rank",
    )
    votes = nn.groupBy("query_id", "true_label", "nb_label").agg(
        F.count(F.lit(1)).alias("votes"),
        F.max("cosine").alias("best_cos"),
    )
    return (
        top_k(
            votes,
            "query_id",
            1,
            F.col("votes").desc(),
            F.col("best_cos").desc(),
            "nb_label",
            name="rank",
        )
        .select(
            "query_id",
            F.col("nb_label").alias("predicted_label"),
            "true_label",
            "votes",
            "best_cos",
            # when/otherwise, not bool-cast: matches the oracle's CASE on
            # a NULL label (0, never NULL) — defensive; current fixtures
            # have no NULL labels (round-12 ADVICE item 2)
            F.when(F.col("nb_label") == F.col("true_label"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("correct"),
        )
        .orderBy("query_id")
    )


QUERIES["sim_knn_classify"] = sim_knn_classify

ORACLE["sim_knn_classify"] = (
    f"WITH q AS (SELECT vec_id AS query_id, embedding AS qe, "
    f"label AS true_label FROM embeddings WHERE vec_id < {N_QUERIES}), "
    f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce, "
    f"label AS nb_label FROM embeddings WHERE vec_id >= {N_QUERIES}), "
    f"s AS (SELECT query_id, true_label, neighbor_id, nb_label, "
    f"ROUND({_COS_QC}, 6) AS cosine FROM q CROSS JOIN c), "
    "r AS (SELECT query_id, true_label, nb_label, cosine, "
    "ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id) AS rank FROM s), "
    "v AS (SELECT query_id, true_label, nb_label, "
    "CAST(COUNT(*) AS BIGINT) AS votes, MAX(cosine) AS best_cos "
    f"FROM r WHERE rank <= {TOP_K} GROUP BY 1, 2, 3), "
    "p AS (SELECT query_id, true_label, nb_label, votes, best_cos, "
    "ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY votes DESC, best_cos DESC, nb_label) AS vr FROM v) "
    "SELECT query_id, nb_label AS predicted_label, true_label, votes, "
    "best_cos, CAST(CASE WHEN nb_label = true_label THEN 1 ELSE 0 END "
    "AS INT) AS correct FROM p WHERE vr = 1 ORDER BY query_id"
)


# --- MMR diversified retrieval (Carbonell & Goldstein, SIGIR 1998) -----------

# λ = MMR_L_NUM / MMR_DEN — kept as INTEGER weights so the greedy
# objective is exact int64 arithmetic over the 6-dp-scaled cosines
# (round 13: the double form 0.7*rel - 0.3*max_sim straddled a 6-dp
# rendering boundary between engines on the sf0.01 fixture — the
# CLAUDE.md "compare in INTEGER space" corollary applies to scores too)
MMR_L_NUM = 7
MMR_D_NUM = 3
MMR_DEN = 10
MMR_POOL = 20  # relevance pool per query the re-ranker works on
MMR_K = 5  # diversified results returned per query
MMR_S = 1_000_000.0  # 6-dp cosine scale


def sim_search_mmr_diversified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — **Maximal Marginal Relevance re-ranking** (Carbonell
    & Goldstein, SIGIR 1998): from each query's top-``MMR_POOL`` cosine
    pool, greedily select ``MMR_K`` results maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` with λ = 0.7 — the
    standard diversification pass a retrieval stack runs between ANN
    search and the consumer (dedupes near-identical hits the plain
    top-k returns).

    Scale contract: the corpus-sized work is ONE scored pass (the
    `sim_search_cosine` stream — broadcast query side, rank window);
    everything after runs on the per-query constant-size pool
    (``MMR_POOL`` rows/query → pool² pairwise sims), so the greedy loop
    is unrolled as ``MMR_K − 1`` fixed stages over pool-sized frames.
    The pool and its pairwise-sim table are `localCheckpoint`ed before
    the stages hang off them — Spark shares no subtrees across
    consumers, and without the cut the ~10 downstream references would
    re-execute the corpus scan ~10 times (CLAUDE.md rule 5, the DSIR
    collapse).

    Determinism: cosines are carried as 6-dp SCALED INT64
    (``round(cos·1e6)``); the MMR objective ``7·rel_s − 3·ms_s`` and
    every argmax tiebreak are exact integer comparisons, and each
    emitted double is one division of an exact int64 by a power of ten
    — no FP boundary anywhere (the float form of the objective
    measurably flipped a 6-dp rendering boundary between engines).

    vs reference: no analogue (no vector surface in `dashboard_nfp.py`).
    """
    q, c = _sides(read_table(spark, sf_dir, "embeddings"))
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        "ce",
        dround(cosine(F.col("qe"), F.col("ce")) * MMR_S, 0)
        .cast("long")
        .alias("rel_s"),
    )
    cand = (
        top_k(
            scored,
            "query_id",
            MMR_POOL,
            F.col("rel_s").desc(),
            "neighbor_id",
            name="rank",
        )
        .drop("rank")
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        "query_id",
        F.col("neighbor_id").alias("n1"),
        F.col("ce").alias("e1"),
    )
    b = cand.select(
        "query_id",
        F.col("neighbor_id").alias("n2"),
        F.col("ce").alias("e2"),
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("n1") != F.col("n2"))
        .select(
            "query_id",
            "n1",
            "n2",
            dround(cosine(F.col("e1"), F.col("e2")) * MMR_S, 0)
            .cast("long")
            .alias("sim_s"),
        )
        .localCheckpoint(eager=True)
    )
    cs = cand.select("query_id", "neighbor_id", "rel_s")

    picks = []
    selected = None
    for t in range(1, MMR_K + 1):
        if t == 1:
            sc = cs.select(
                "query_id",
                "neighbor_id",
                "rel_s",
                F.lit(0).cast("long").alias("ms_s"),
            )
        else:
            remaining = cs.join(
                selected, ["query_id", "neighbor_id"], "left_anti"
            )
            to_sel = sims.join(
                selected.withColumnRenamed("neighbor_id", "n2"),
                ["query_id", "n2"],
            )
            ms = to_sel.groupBy(
                "query_id", F.col("n1").alias("neighbor_id")
            ).agg(F.max("sim_s").alias("ms_s"))
            sc = remaining.join(ms, ["query_id", "neighbor_id"])
        score_s = (
            F.lit(MMR_L_NUM) * F.col("rel_s")
            - F.lit(MMR_D_NUM) * F.col("ms_s")
        )
        pick = (
            top_k(sc, "query_id", 1, score_s.desc(), "neighbor_id", name="rank")
            .select("query_id", "neighbor_id", "rel_s", "ms_s")
            # cut lineage per stage: stage t references selected_{t-1}
            # TWICE (anti-join + max-sim join), so without the cut the
            # logical plan doubles per stage — 2^5 replicated join
            # subtrees, 322 exchanges in the round-13 plan audit
            # (CLAUDE.md rule 5, the connected-components lesson)
            .localCheckpoint(eager=True)
        )
        picks.append(pick.withColumn("rank", F.lit(t).cast("int")))
        new_sel = pick.select("query_id", "neighbor_id")
        selected = (
            new_sel if selected is None else selected.unionByName(new_sel)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id",
        "rank",
        "neighbor_id",
        (F.col("rel_s").cast("double") / MMR_S).alias("relevance"),
        (
            (
                F.lit(MMR_L_NUM) * F.col("rel_s")
                - F.lit(MMR_D_NUM) * F.col("ms_s")
            ).cast("double")
            / (MMR_S * MMR_DEN)
        ).alias("mmr_score"),
    ).orderBy("query_id", "rank")


QUERIES["sim_search_mmr_diversified"] = sim_search_mmr_diversified


def _mmr_oracle_sql() -> str:
    """Unrolled-CTE twin of the greedy MMR loop (5 fixed stages), same
    scaled-int64 objective: rel_s/sim_s = ROUND(cos*1e6) BIGINTs,
    score = 7*rel_s - 3*ms_s compared exactly."""
    cos_qc = cosine_sql("qe", "ce")
    cos_cc = cosine_sql("a.ce", "b.ce")
    ctes = [
        f"q AS (SELECT vec_id AS query_id, embedding AS qe "
        f"FROM embeddings WHERE vec_id < {N_QUERIES})",
        f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce "
        f"FROM embeddings WHERE vec_id >= {N_QUERIES})",
        f"scored AS (SELECT query_id, neighbor_id, ce, "
        f"CAST(ROUND({cos_qc} * {MMR_S}) AS BIGINT) AS rel_s "
        f"FROM q CROSS JOIN c)",
        f"cand AS (SELECT query_id, neighbor_id, ce, rel_s FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
        f"ORDER BY rel_s DESC, neighbor_id) AS rk FROM scored) "
        f"WHERE rk <= {MMR_POOL})",
        f"sims AS (SELECT a.query_id, a.neighbor_id AS n1, "
        f"b.neighbor_id AS n2, "
        f"CAST(ROUND({cos_cc} * {MMR_S}) AS BIGINT) AS sim_s "
        f"FROM cand a JOIN cand b ON a.query_id = b.query_id "
        f"AND a.neighbor_id <> b.neighbor_id)",
        "cs AS (SELECT query_id, neighbor_id, rel_s FROM cand)",
        "p1 AS (SELECT query_id, neighbor_id, rel_s, "
        "CAST(0 AS BIGINT) AS ms_s FROM ("
        "SELECT query_id, neighbor_id, rel_s, ROW_NUMBER() OVER ("
        "PARTITION BY query_id ORDER BY rel_s DESC, neighbor_id) AS rn "
        "FROM cs) WHERE rn = 1)",
        "sel1 AS (SELECT query_id, neighbor_id FROM p1)",
    ]
    for t in range(2, MMR_K + 1):
        p = t - 1
        ctes.append(
            f"r{t} AS (SELECT cs.* FROM cs WHERE NOT EXISTS ("
            f"SELECT 1 FROM sel{p} s WHERE s.query_id = cs.query_id "
            f"AND s.neighbor_id = cs.neighbor_id))"
        )
        ctes.append(
            f"ms{t} AS (SELECT s.query_id, s.n1 AS neighbor_id, "
            f"CAST(MAX(s.sim_s) AS BIGINT) AS ms_s "
            f"FROM sims s JOIN sel{p} ON "
            f"sel{p}.query_id = s.query_id AND sel{p}.neighbor_id = s.n2 "
            f"GROUP BY 1, 2)"
        )
        ctes.append(
            f"p{t} AS (SELECT query_id, neighbor_id, rel_s, ms_s FROM ("
            f"SELECT r{t}.query_id, r{t}.neighbor_id, r{t}.rel_s, "
            f"ms{t}.ms_s, ROW_NUMBER() OVER ("
            f"PARTITION BY r{t}.query_id ORDER BY "
            f"{MMR_L_NUM} * r{t}.rel_s - {MMR_D_NUM} * ms{t}.ms_s DESC, "
            f"r{t}.neighbor_id) AS rn FROM r{t} JOIN ms{t} ON "
            f"ms{t}.query_id = r{t}.query_id "
            f"AND ms{t}.neighbor_id = r{t}.neighbor_id) WHERE rn = 1)"
        )
        ctes.append(
            f"sel{t} AS (SELECT query_id, neighbor_id FROM sel{p} "
            f"UNION ALL SELECT query_id, neighbor_id FROM p{t})"
        )
    union = " UNION ALL ".join(
        f"SELECT query_id, CAST({t} AS INT) AS rank, neighbor_id, "
        f"CAST(rel_s AS DOUBLE) / {MMR_S} AS relevance, "
        f"CAST({MMR_L_NUM} * rel_s - {MMR_D_NUM} * ms_s AS DOUBLE) "
        f"/ ({MMR_S} * {MMR_DEN}) AS mmr_score FROM p{t}"
        for t in range(1, MMR_K + 1)
    )
    return (
        "WITH " + ", ".join(ctes) + " SELECT * FROM (" + union
        + ") ORDER BY query_id, rank"
    )


ORACLE["sim_search_mmr_diversified"] = _mmr_oracle_sql()


# --- Retrieval evaluation: MRR + recall@k against label ground truth ---------

EVAL_K = 10  # evaluation cutoff (deeper than TOP_K: recall@10 is standard)


def sim_eval_mrr_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Retrieval-quality evaluation** — MRR and recall@k of the exact
    cosine retriever against the corpus's label column as graded ground
    truth (a neighbor is RELEVANT iff it shares the query's label): the
    measurement half of the similarity-search story — every ANN variant
    in this module claims recall, and this operator is the harness that
    would score it (swap the scored stream; the eval tail is identical).

    Per query: the rank of the first relevant neighbor in the top-k
    (reciprocal rank; 0 when none), hits@k, and recall@k = hits /
    total relevant in the corpus (Manning, Raghavan & Schütze, IR ch.8).

    Determinism: ranks are total (6-dp `dround` cosine, neighbor_id
    tiebreak — the module contract); hits and totals are exact counts;
    the two exposed ratios are single divisions of small exact integers,
    `dround`ed at 6 dp. Queries whose rank list has no relevant neighbor
    emit rr=0/first_rel_rank=0, never NULL (NULL-sort trap, CLAUDE.md
    rule 2).

    Scale: the corpus-sized work is ONE broadcast-scored pass + per-query
    rank (same shape as `sim_search_cosine`); the label totals are a
    corpus aggregate broadcast back onto 10 eval rows.

    vs reference: no analogue (`dashboard_nfp.py` has no vector surface).
    """
    q, c = _sides(
        read_table(spark, sf_dir, "embeddings"),
        embedding=("qe", "ce"),
        label=("q_label", "c_label"),
    )
    scored = _cosine_scored(q, c)
    topk = top_k(
        scored, "query_id", EVAL_K, F.col("cosine").desc(), "neighbor_id", name="rank"
    )
    rel = F.col("c_label") == F.col("q_label")
    hits = topk.groupBy("query_id", "q_label").agg(
        F.sum(F.when(rel, F.lit(1)).otherwise(F.lit(0))).alias("n_hits"),
        F.min(F.when(rel, F.col("rank"))).alias("first_rel"),
    )
    return (
        _label_totals(hits, c)
        .select(
            "query_id",
            F.col("q_label").cast("int").alias("label"),
            F.col("n_hits").cast("int").alias("hits_at_k"),
            F.coalesce(F.col("first_rel"), F.lit(0))
            .cast("int")
            .alias("first_rel_rank"),
            dround(
                F.coalesce(
                    F.lit(1.0) / F.col("first_rel"), F.lit(0.0)
                ),
                6,
            ).alias("reciprocal_rank"),
            F.col("n_rel_total").cast("int").alias("n_rel_total"),
            dround(
                F.col("n_hits").cast("double")
                / F.col("n_rel_total").cast("double"),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


QUERIES["sim_eval_mrr_recall"] = sim_eval_mrr_recall

ORACLE["sim_eval_mrr_recall"] = (
    f"WITH q AS (SELECT vec_id AS query_id, embedding AS qe, "
    f"label AS q_label FROM embeddings WHERE vec_id < {N_QUERIES}), "
    f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce, "
    f"label AS c_label FROM embeddings WHERE vec_id >= {N_QUERIES}), "
    f"s AS (SELECT query_id, q_label, neighbor_id, c_label, "
    f"ROUND({_COS_QC}, 6) AS cosine FROM q CROSS JOIN c), "
    "r AS (SELECT query_id, q_label, c_label, "
    "ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id) AS rank FROM s), "
    "h AS (SELECT query_id, q_label, "
    "CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_hits, "
    "MIN(CASE WHEN c_label = q_label THEN rank END) AS first_rel "
    f"FROM r WHERE rank <= {EVAL_K} GROUP BY 1, 2), "
    "lt AS (SELECT c_label AS q_label, CAST(COUNT(*) AS BIGINT) "
    "AS n_rel_total FROM c GROUP BY 1) "
    "SELECT query_id, CAST(h.q_label AS INT) AS label, "
    "CAST(n_hits AS INT) AS hits_at_k, "
    "CAST(COALESCE(first_rel, 0) AS INT) AS first_rel_rank, "
    "ROUND(COALESCE(CAST(1 AS DOUBLE) / first_rel, 0.0), 6) "
    "AS reciprocal_rank, "
    "CAST(n_rel_total AS INT) AS n_rel_total, "
    "ROUND(CAST(n_hits AS DOUBLE) / CAST(n_rel_total AS DOUBLE), 6) "
    "AS recall_at_k "
    "FROM h JOIN lt USING (q_label) ORDER BY query_id"
)


# --- PCA: top principal component by power iteration --------------------------

PCA_ITERS = 6  # fixed unrolled power-iteration refinements
PCA_CS = 1_000_000  # per-cell scale (xs = round(x * 1e6))
PCA_QS = 1_000_000  # quantization of dots / partial sums / loadings
EMB_DIM = 64  # fixture embedding dimensionality (asserted by the plan)


def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **top principal component of the embedding corpus by
    power iteration** (von Mises & Pollaczek-Geiringer 1929; the
    distributed form is the standard map-reduce PCA: each step is one
    pass computing C·v without ever materializing the covariance
    matrix): center the corpus, start from the fixed uniform unit
    vector v0 = (1/8,...,1/8), and run ``PCA_ITERS`` refinements
    v ← C·v/‖C·v‖. Emits the component loadings, the Rayleigh-quotient
    eigenvalue estimate, and its share of total variance — the
    embedding-space diagnostic a pipeline reads before whitening,
    Matryoshka truncation (`embedding_matryoshka_truncate`) or int8
    quantization (`embedding_quantize_int8`): one dominant direction
    means anisotropic embeddings (Mu & Viswanath 2018) that hurt cosine
    retrieval.

    Contract & determinism: FIXED iteration count (convergence is a
    property the hash pins, not a loop condition). Centering is exact:
    cells quantize to int64 (×1e6 ties-away), c = n·xs − Σxs clears the
    /n. Every corpus-sized reduction is either a per-row SEQUENTIAL
    array fold (`vectors.dot` ≡ DuckDB ``list_dot_product`` — the
    module's proven pairing) or a `dsum_scaled` exact-integer sum; each
    iteration's dot products and partial sums re-quantize to scaled
    int64 so no order-dependent float accumulation exists anywhere.
    The 64-element w/v vectors rebuild via sort_array(collect_list) ≡
    ``list(... ORDER BY)``.

    Scale: per iteration ONE pass over the corpus (dot per row, fold
    over dim) + one (dim)-key exact aggregate — C is never formed
    (O(n·d), not O(n·d²)); v rides a broadcast; the 1-row v frame is the
    `fixpoint` state, cut every iteration (the MMR unrolled-stage
    lesson); the centered-corpus frame every iteration re-reads is
    checkpointed once.

    vs reference: no analogue (no vector surface in `dashboard_nfp.py`).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    tot = emb.agg(F.count(F.lit(1)).alias("n"))
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("p0", "x")
    ).select(
        "vec_id",
        (F.col("p0") + F.lit(1)).alias("k"),
        dround(F.col("x").cast("double") * F.lit(float(PCA_CS)), 0)
        .cast("long")
        .alias("xs"),
    )
    s1 = ex.groupBy("k").agg(F.sum("xs").alias("s1k"))
    cent = (
        ex.join(F.broadcast(s1), "k")
        .crossJoin(F.broadcast(tot))
        .select(
            "vec_id",
            "k",
            "n",
            (F.col("n") * F.col("xs") - F.col("s1k")).alias("c"),
        )
    )
    n_d = F.col("n").cast("double")
    cvec = (
        cent.groupBy("vec_id", "n")
        .agg(F.sort_array(F.collect_list(F.struct("k", "c"))).alias("kc"))
        .select(
            "vec_id",
            "n",
            F.transform(
                "kc",
                lambda s: s["c"].cast("double")
                / (F.col("n").cast("double") * F.lit(float(PCA_CS))),
            ).alias("ct"),
        )
        .localCheckpoint(eager=True)  # re-read every iteration
    )
    # total variance (real units): sequential per-row fold, exact corpus sum
    tv = cvec.select(
        (dot(F.col("ct"), F.col("ct")) / n_d).alias("rss")
    ).agg(dsum_scaled("rss", PCA_QS).alias("tv_s"))

    v_df = spark.range(1).select(
        F.array_repeat(F.lit(0.125), EMB_DIM).alias("v")
    )

    def refine(v_df: DataFrame, _r: int) -> DataFrame:
        dots = cvec.crossJoin(F.broadcast(v_df)).select(
            "n",
            "ct",
            dround(
                dot(F.col("ct"), F.col("v")) * F.lit(float(PCA_QS)), 0
            )
            .cast("long")
            .alias("ds"),
        )
        wrows = dots.select(
            (F.col("ds").cast("double") / F.lit(float(PCA_QS))).alias(
                "dsd"
            ),
            F.posexplode("ct").alias("p0", "ctv"),
        )
        w = (
            wrows.groupBy((F.col("p0") + F.lit(1)).alias("p"))
            .agg(
                dsum_scaled(
                    F.col("ctv") * F.col("dsd"), PCA_QS
                ).alias("ws")
            )
        )
        warr = (
            w.groupBy()
            .agg(
                F.sort_array(F.collect_list(F.struct("p", "ws"))).alias(
                    "pw"
                )
            )
            .select(
                F.transform(
                    "pw",
                    lambda s: s["ws"].cast("double")
                    / F.lit(float(PCA_QS)),
                ).alias("w")
            )
            .select("w", F.sqrt(dot(F.col("w"), F.col("w"))).alias("nrm"))
        )
        return warr.select(
            F.transform(
                "w", lambda x: dround(x / F.col("nrm"), 6)
            ).alias("v"),
            dround(F.col("nrm"), 6).alias("lam"),
        )

    v_df, _ = fixpoint(
        v_df, refine, rounds=PCA_ITERS, name="embedding_pca_power_iteration"
    )

    return (
        v_df.crossJoin(F.broadcast(tv))
        .select(
            F.posexplode("v").alias("p0", "loading"),
            "lam",
            "tv_s",
        )
        .select(
            (F.col("p0") + F.lit(1)).cast("int").alias("k"),
            "loading",
            F.col("lam").alias("lambda1"),
            dround(
                F.col("lam")
                / (F.col("tv_s").cast("double") / F.lit(float(PCA_QS))),
                6,
            ).alias("var_share"),
        )
        .orderBy("k")
    )


QUERIES["embedding_pca_power_iteration"] = embedding_pca_power_iteration


def _pca_oracle_sql() -> str:
    """Identical unrolled power iteration; MATERIALIZED CTEs (the
    graph_kcore_peel lesson: each generation is referenced by the next
    twice, so inlining compounds per iteration)."""
    v0 = (
        "list_transform(range(1, "
        f"{EMB_DIM + 1}), i -> CAST(0.125 AS DOUBLE))"
    )
    sql = (
        "WITH tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n "
        "FROM embeddings), "
        "ex AS MATERIALIZED (SELECT vec_id, i AS k, "
        f"CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {float(PCA_CS)}) "
        "AS BIGINT) AS xs FROM embeddings, "
        "UNNEST(range(1, len(embedding) + 1)) AS u(i)), "
        "s1 AS MATERIALIZED (SELECT k, CAST(SUM(xs) AS BIGINT) AS s1k "
        "FROM ex GROUP BY 1), "
        "cent AS MATERIALIZED (SELECT vec_id, ex.k, n, "
        "n * xs - s1k AS c FROM ex JOIN s1 ON s1.k = ex.k, tot), "
        "cv AS MATERIALIZED (SELECT vec_id, n, "
        "list_transform(list(c ORDER BY k), c -> CAST(c AS DOUBLE) "
        f"/ (CAST(n AS DOUBLE) * {float(PCA_CS)})) AS ct "
        "FROM cent GROUP BY 1, 2), "
        "tv AS MATERIALIZED (SELECT CAST(SUM(CAST(ROUND("
        "(list_dot_product(ct, ct) / CAST(n AS DOUBLE)) "
        f"* {PCA_QS}) AS BIGINT)) AS BIGINT) AS tv_s FROM cv), "
        f"v0 AS MATERIALIZED (SELECT {v0} AS v FROM (VALUES (1)))"
    )
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        sql += (
            f", d{t} AS MATERIALIZED (SELECT n, ct, "
            f"CAST(ROUND(list_dot_product(ct, v) * {float(PCA_QS)}) "
            f"AS BIGINT) AS ds FROM cv, {prev})"
            f", w{t} AS MATERIALIZED (SELECT p, "
            "CAST(SUM(CAST(ROUND((ct[p] * (CAST(ds AS DOUBLE) "
            f"/ {float(PCA_QS)})) * {PCA_QS}) AS BIGINT)) AS BIGINT) AS ws "
            f"FROM d{t}, UNNEST(range(1, {EMB_DIM + 1})) AS u(p) "
            "GROUP BY 1)"
            f", wa{t} AS MATERIALIZED (SELECT list(CAST(ws AS DOUBLE) "
            f"/ {float(PCA_QS)} ORDER BY p) AS w FROM w{t})"
            f", v{t} AS MATERIALIZED (SELECT list_transform(w, "
            "x -> ROUND(x / sqrt(list_dot_product(w, w)), 6)) AS v, "
            f"ROUND(sqrt(list_dot_product(w, w)), 6) AS lam FROM wa{t})"
        )
        prev = f"v{t}"
    sql += (
        f" SELECT CAST(p AS INT) AS k, v[p] AS loading, lam AS lambda1, "
        f"ROUND(lam / (CAST(tv_s AS DOUBLE) / {float(PCA_QS)}), 6) "
        f"AS var_share FROM {prev}, tv, "
        f"UNNEST(range(1, {EMB_DIM + 1})) AS u(p) ORDER BY p"
    )
    return sql


ORACLE["embedding_pca_power_iteration"] = _pca_oracle_sql()


# --- Clustering evaluation: purity against label ground truth -----------------


def sim_eval_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Cluster-purity evaluation** (Manning, Raghavan & Schütze, IR
    §16.3): score the IVF codebook assignment (`assign_to_codebook`,
    the partitioning `sim_search_ann_ivf` and `dedup_semantic_kmeans`
    search within) against the corpus labels — per cluster the
    majority label and its share, plus the corpus-level purity
    Σ_c max_l |c ∩ l| / N as a constant column. The clustering twin of
    `sim_eval_mrr_recall`: one scores the retriever, this scores the
    partitioner (a low-purity codebook is why an IVF probe misses).

    Determinism: assignments inherit the module's total order
    (6-dp `dround` cosine + cent_id tiebreak); majority label breaks
    count ties toward the smaller label id; counts are exact integers;
    the two exposed ratios are single divisions `dround`ed at 6 dp.

    Scale: assignment is the module's one-broadcast-pass + rank-1
    window; everything after is a (cluster, label) count aggregate and
    a K-row argmax."""
    emb = read_table(spark, sf_dir, "embeddings")
    _, cand = _sides(emb, embedding=("qe", "ce"), label=("q_label", "lab"))
    assigned = assign_to_codebook(cand.drop("lab"), _codebook(emb)).join(
        cand.select("neighbor_id", "lab"), "neighbor_id"
    )
    cl = assigned.groupBy("list_id", "lab").agg(
        F.count(F.lit(1)).alias("c")
    )
    sized = cl.withColumn("size", F.sum("c").over(Window.partitionBy("list_id")))
    per = top_k(sized, "list_id", 1, F.col("c").desc(), "lab").select(
        F.col("list_id").alias("cluster_id"),
        F.col("size").cast("long").alias("size"),
        F.col("lab").cast("int").alias("majority_label"),
        F.col("c").cast("long").alias("majority_count"),
    )
    tot = per.agg(
        F.sum("majority_count").alias("maj_tot"),
        F.sum("size").alias("n_tot"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "cluster_id",
            "size",
            "majority_label",
            "majority_count",
            dround(
                F.col("majority_count").cast("double")
                / F.col("size").cast("double"),
                6,
            ).alias("cluster_purity"),
            dround(
                F.col("maj_tot").cast("double")
                / F.col("n_tot").cast("double"),
                6,
            ).alias("overall_purity"),
        )
        .orderBy("cluster_id")
    )


QUERIES["sim_eval_cluster_purity"] = sim_eval_cluster_purity

ORACLE["sim_eval_cluster_purity"] = (
    "WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_e "
    f"FROM embeddings WHERE vec_id >= {N_QUERIES} "
    f"AND vec_id < {N_QUERIES + IVF_K}), "
    f"cand AS (SELECT vec_id AS neighbor_id, embedding AS ce, "
    f"label AS lab FROM embeddings WHERE vec_id >= {N_QUERIES}), "
    "cs AS (SELECT neighbor_id, lab, cent_id, "
    "ROW_NUMBER() OVER (PARTITION BY neighbor_id ORDER BY "
    f"ROUND({cosine_sql('ce', 'cent_e')}, 6) DESC, cent_id) AS rn "
    "FROM cand CROSS JOIN cent), "
    "assigned AS (SELECT neighbor_id, lab, cent_id AS list_id FROM cs "
    "WHERE rn = 1), "
    "cl AS (SELECT list_id, lab, CAST(COUNT(*) AS BIGINT) AS c "
    "FROM assigned GROUP BY 1, 2), "
    "per AS (SELECT list_id AS cluster_id, "
    "CAST(SUM(c) OVER (PARTITION BY list_id) AS BIGINT) AS size, "
    "CAST(lab AS INT) AS majority_label, c AS majority_count, "
    "ROW_NUMBER() OVER (PARTITION BY list_id ORDER BY c DESC, lab) "
    "AS rn FROM cl), "
    "p AS (SELECT cluster_id, size, majority_label, majority_count "
    "FROM per WHERE rn = 1), "
    "t AS (SELECT CAST(SUM(majority_count) AS BIGINT) AS maj_tot, "
    "CAST(SUM(size) AS BIGINT) AS n_tot FROM p) "
    "SELECT cluster_id, size, majority_label, majority_count, "
    "ROUND(CAST(majority_count AS DOUBLE) / CAST(size AS DOUBLE), 6) "
    "AS cluster_purity, "
    "ROUND(CAST(maj_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) "
    "AS overall_purity "
    "FROM p, t ORDER BY cluster_id"
)


# --- Nearest-centroid classifier eval: confusion/F1 + one-vs-rest ROC-AUC ---------

CENT_SCALE = 1_000_000  # component quantization for exact centroid means


def _centroid_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scored stream for the classifier-eval pair: every vector
    cosine-scored against every class centroid (Rocchio/nearest-centroid
    classification, Manning-Raghavan-Schütze IR ch.14).

    Centroid components are exact scaled-int means (ROUND(v·1e6) sums /
    (1e6·n), the IVF-exact device) quantized at 6 dp, so both engines
    build bitwise-identical centroid arrays and the sequential-fold
    cosine stays cross-engine deterministic. Class count is ~10, so the
    centroid table broadcasts and the corpus is scanned ONCE."""
    emb = read_table(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", "label", F.col("embedding").alias("e"))
    comp = x.select("label", F.posexplode("e").alias("dim", "v"))
    per = comp.groupBy(F.col("label").alias("cls"), F.col("dim")).agg(
        dsum_scaled("v", CENT_SCALE).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    m = dround(
        F.col("s").cast("double")
        / (F.lit(float(CENT_SCALE)) * F.col("n").cast("double")),
        6,
    )
    cent = (
        per.select("cls", F.struct(F.col("dim"), m.alias("m")).alias("p"))
        .groupBy("cls")
        .agg(F.collect_list("p").alias("parts"))
        .select(
            "cls",
            F.transform(F.array_sort("parts"), lambda t: t["m"]).alias(
                "ce"
            ),
        )
    )
    return x.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "cls",
        dround(cosine(F.col("e"), F.col("ce")), 6).alias("cos"),
    )


def _centroid_top(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The classifier's ``k`` nearest centroids per vector, numbered in
    ``rn`` under the total order (cosine DESC 6-dp, class ASC), each
    with its cosine as an exact 1e-6-unit integer ``ci``."""
    scored = _centroid_scored(spark, sf_dir).withColumn(
        "ci", dround(F.col("cos") * F.lit(1e6), 0).cast("long")
    )
    return top_k(scored, "vec_id", k, F.col("cos").desc(), "cls")


def _centroid_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector's true label ``t`` and nearest-centroid prediction ``p``."""
    return _centroid_top(spark, sf_dir, 1).select(
        F.col("label").alias("t"), F.col("cls").alias("p")
    )


_CENTROID_SQL = (
    "x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings), "
    "comp AS (SELECT label, "
    "CAST(generate_subscripts(e, 1) AS INT) AS dim, unnest(e) AS v "
    "FROM x), "
    "per AS (SELECT label AS cls, dim, "
    f"CAST(SUM(CAST(ROUND(v * {CENT_SCALE}.0) AS BIGINT)) AS BIGINT) AS s, "
    "CAST(COUNT(*) AS BIGINT) AS n FROM comp GROUP BY 1, 2), "
    "cent AS (SELECT cls, list(ROUND(CAST(s AS DOUBLE) "
    f"/ ({CENT_SCALE}.0 * CAST(n AS DOUBLE)), 6) ORDER BY dim) AS ce "
    "FROM per GROUP BY cls), "
    f"sc AS (SELECT vec_id, label, cls, "
    f"ROUND({cosine_sql('x.e', 'cent.ce')}, 6) AS cos "
    "FROM x CROSS JOIN cent)"
)


def sim_eval_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Classification evaluation — per-class confusion statistics and
    F1** of the nearest-centroid classifier (resubstitution protocol:
    centroids trained on the full corpus, every vector then classified).
    The multiclass counterpart of `sim_eval_mrr_recall`'s retrieval
    metrics: precision = tp/n_pred, recall = tp/n_true, and
    F1 = 2·tp/(n_true + n_pred) — the harmonic mean in its exact
    integer form, so every exposed ratio is ONE division of exact
    counts (`dround` 6, zero-denominator guarded to 0.0).

    Prediction is a total order: (cosine DESC 6-dp, class ASC) per
    vector — engine-portable by the module contract.

    Scale: centroids are a k×d aggregate broadcast back; the corpus is
    scanned once for scoring; the confusion algebra runs on ≤k² rows."""
    pred = _centroid_pred(spark, sf_dir)
    n_true = pred.groupBy(F.col("t").alias("label")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    n_pred = pred.groupBy(F.col("p").alias("label")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = (
        pred.filter(F.col("t") == F.col("p"))
        .groupBy(F.col("t").alias("label"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    base = (
        n_true.join(n_pred, "label", "left")
        .join(tp, "label", "left")
        .select(
            "label",
            F.col("n_true"),
            F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        )
    )
    tp_d = F.col("tp").cast("double")
    return base.select(
        F.col("label").cast("int").alias("label"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("tp").cast("long").alias("tp"),
        dround(
            F.when(
                F.col("n_pred") > 0,
                tp_d / F.col("n_pred").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("precision"),
        dround(tp_d / F.col("n_true").cast("double"), 6).alias("recall"),
        dround(
            F.lit(2.0)
            * tp_d
            / (F.col("n_true") + F.col("n_pred")).cast("double"),
            6,
        ).alias("f1"),
    ).orderBy("label")


QUERIES["sim_eval_centroid_confusion"] = sim_eval_centroid_confusion

ORACLE["sim_eval_centroid_confusion"] = (
    f"WITH {_CENTROID_SQL}, "
    "pr AS (SELECT label AS t, cls AS p FROM (SELECT label, cls, "
    "ROW_NUMBER() OVER (PARTITION BY vec_id "
    "ORDER BY cos DESC, cls) AS rn FROM sc) WHERE rn = 1), "
    "nt AS (SELECT t AS label, CAST(COUNT(*) AS BIGINT) AS n_true "
    "FROM pr GROUP BY 1), "
    "np AS (SELECT p AS label, CAST(COUNT(*) AS BIGINT) AS n_pred "
    "FROM pr GROUP BY 1), "
    "tpc AS (SELECT t AS label, CAST(COUNT(*) AS BIGINT) AS tp "
    "FROM pr WHERE t = p GROUP BY 1), "
    "base AS (SELECT nt.label, nt.n_true, "
    "COALESCE(np.n_pred, 0) AS n_pred, COALESCE(tpc.tp, 0) AS tp "
    "FROM nt LEFT JOIN np ON nt.label = np.label "
    "LEFT JOIN tpc ON nt.label = tpc.label) "
    "SELECT CAST(label AS INT) AS label, n_true, n_pred, tp, "
    "ROUND(CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) "
    "/ CAST(n_pred AS DOUBLE) ELSE 0.0 END, 6) AS precision, "
    "ROUND(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6) AS recall, "
    "ROUND(2.0 * CAST(tp AS DOUBLE) "
    "/ CAST(n_true + n_pred AS DOUBLE), 6) AS f1 "
    "FROM base ORDER BY label"
)


def sim_eval_roc_auc_ovr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**One-vs-rest ROC AUC** of the nearest-centroid score, per class
    (Hanley–McNeil 1982; Fawcett PRL 2006) — the threshold-free ranking
    quality of the same scores `sim_eval_centroid_confusion` hardens
    into a single prediction, via the rank-sum identity
    AUC = U/(n₁·n₀) with tie-averaged ranks.

    Exactness is `agg_mann_whitney_u`'s doubled-rank device per class:
    2·avgrank = 2·minrank + t − 1 exact over the 6-dp-quantized scores
    (identical tie sets cross-engine), so R1d, U1d = R1d − n₁(n₁+1) and
    AUC = U1d/(2·n₁·n₀) are one exact-integer chain with a single
    division.

    Scale: the scored stream is one broadcast pass; per-class ranks are
    k partition-local sorts (class is the partition key — no global
    sort); the AUC algebra runs on k rows."""
    scored = _centroid_scored(spark, sf_dir)
    w_rank = Window.partitionBy("cls").orderBy("cos")
    w_tie = Window.partitionBy("cls", "cos")
    ranked = scored.select(
        "cls",
        (F.col("label") == F.col("cls")).alias("is_pos"),
        (
            F.lit(2) * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - F.lit(1)
        ).alias("rd"),
    )
    agg = ranked.groupBy("cls").agg(
        F.sum(F.when(F.col("is_pos"), F.col("rd"))).alias("r1d"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(~F.col("is_pos"), 1).otherwise(0))
        .cast("long")
        .alias("n0"),
    )
    u1d = F.col("r1d") - F.col("n1") * (F.col("n1") + F.lit(1))
    return (
        agg.filter((F.col("n1") > 0) & (F.col("n0") > 0))
        .select(
            F.col("cls").cast("int").alias("label"),
            F.col("n1").alias("n_pos"),
            F.col("n0").alias("n_neg"),
            dround(
                u1d.cast("double")
                / (
                    F.lit(2.0)
                    * (F.col("n1") * F.col("n0")).cast("double")
                ),
                6,
            ).alias("auc"),
        )
        .orderBy("label")
    )


QUERIES["sim_eval_roc_auc_ovr"] = sim_eval_roc_auc_ovr

ORACLE["sim_eval_roc_auc_ovr"] = (
    f"WITH {_CENTROID_SQL}, "
    "r AS (SELECT cls, label = cls AS is_pos, "
    "2 * RANK() OVER (PARTITION BY cls ORDER BY cos) "
    "+ COUNT(*) OVER (PARTITION BY cls, cos) - 1 AS rd FROM sc), "
    "a AS (SELECT cls, "
    "CAST(SUM(CASE WHEN is_pos THEN rd END) AS BIGINT) AS r1d, "
    "CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n0 "
    "FROM r GROUP BY cls) "
    "SELECT CAST(cls AS INT) AS label, n1 AS n_pos, n0 AS n_neg, "
    "ROUND(CAST(r1d - n1 * (n1 + 1) AS DOUBLE) "
    "/ (2.0 * CAST(n1 * n0 AS DOUBLE)), 6) AS auc "
    "FROM a WHERE n1 > 0 AND n0 > 0 ORDER BY label"
)


def sim_eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Cohen's κ** (Educ. Psych. Meas. 1960) of the nearest-centroid
    classifier against the true labels — chance-corrected agreement,
    the single-number summary of `sim_eval_centroid_confusion`'s
    matrix (accuracy alone flatters a classifier on skewed classes; κ
    subtracts what label-frequency matching would score by luck).

    Exact integer form: with tp = Σ diagonal, and r_c/c_c the
    true/predicted marginals, κ = (n·Σtp − Σ r_c·c_c) /
    (n² − Σ r_c·c_c) — every term an exact integer (DECIMAL(38,0) ≡
    HUGEINT at 100x), ONE division, `dround` 6. Observed and expected
    agreement emitted alongside (each one division).

    Scale: the scored stream + per-vector argmax (the confusion
    operator's shape); the κ algebra runs on k-row marginals."""
    pred = _centroid_pred(spark, sf_dir)
    n_true = pred.groupBy(F.col("t").alias("lbl")).agg(
        F.count(F.lit(1)).alias("r")
    )
    n_pred = pred.groupBy(F.col("p").alias("lbl")).agg(
        F.count(F.lit(1)).alias("c")
    )
    marg = n_true.join(n_pred, "lbl", "full").select(
        F.coalesce(F.col("r"), F.lit(0)).alias("r"),
        F.coalesce(F.col("c"), F.lit(0)).alias("c"),
    )

    pe_sum = marg.agg(
        F.sum(d38("r") * F.col("c")).alias("rc")
    )
    base = pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("t") == F.col("p"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    j = base.crossJoin(F.broadcast(pe_sum))
    n, tp, rc = F.col("n"), F.col("tp"), F.col("rc")
    return j.filter((d38(n) * n - rc) != 0).select(
        n.cast("long").alias("n_vectors"),
        tp.alias("n_agree"),
        dround(tp.cast("double") / n.cast("double"), 6).alias(
            "observed_agreement"
        ),
        dround(
            rc.cast("double") / (d38(n) * n).cast("double"), 6
        ).alias("expected_agreement"),
        dround(
            (d38(n) * tp - rc).cast("double")
            / (d38(n) * n - rc).cast("double"),
            6,
        ).alias("cohens_kappa"),
    )


QUERIES["sim_eval_cohens_kappa"] = sim_eval_cohens_kappa

ORACLE["sim_eval_cohens_kappa"] = (
    f"WITH {_CENTROID_SQL}, "
    "pr AS (SELECT label AS t, cls AS p FROM (SELECT label, cls, "
    "ROW_NUMBER() OVER (PARTITION BY vec_id "
    "ORDER BY cos DESC, cls) AS rn FROM sc) WHERE rn = 1), "
    "nt AS (SELECT t AS lbl, CAST(COUNT(*) AS BIGINT) AS r "
    "FROM pr GROUP BY 1), "
    "np AS (SELECT p AS lbl, CAST(COUNT(*) AS BIGINT) AS c "
    "FROM pr GROUP BY 1), "
    "marg AS (SELECT COALESCE(r, 0) AS r, COALESCE(c, 0) AS c "
    "FROM nt FULL JOIN np ON nt.lbl = np.lbl), "
    "pe AS (SELECT CAST(SUM(CAST(r AS HUGEINT) * c) AS HUGEINT) AS rc "
    "FROM marg), "
    "b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN t = p THEN 1 ELSE 0 END) AS BIGINT) AS tp "
    "FROM pr) "
    "SELECT n AS n_vectors, tp AS n_agree, "
    "ROUND(CAST(tp AS DOUBLE) / CAST(n AS DOUBLE), 6) "
    "AS observed_agreement, "
    "ROUND(CAST(rc AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) "
    "AS expected_agreement, "
    "ROUND(CAST(CAST(n AS HUGEINT) * tp - rc AS DOUBLE) "
    "/ CAST(CAST(n AS HUGEINT) * n - rc AS DOUBLE), 6) AS cohens_kappa "
    "FROM b, pe WHERE CAST(n AS HUGEINT) * n - rc <> 0"
)


# --- Margin-reliability table (confidence calibration by score margin) ------------

MARGIN_BIN = 20_000  # bin width in 1e-6 cosine units (0.02)
MARGIN_NBINS = 5


def sim_eval_margin_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Margin-reliability table** — accuracy of the nearest-centroid
    prediction as a function of its SCORE MARGIN (top-1 minus top-2
    cosine): the calibration diagnostic behind selective
    classification / abstention thresholds (Geifman & El-Yaniv,
    NeurIPS 2017 frame it as the coverage-risk curve; this is its
    binned table). If the classifier is well-ordered, accuracy rises
    monotonically with margin — the property a user checks before
    trusting margin as a confidence signal.

    Exactness: both cosines are 6-dp quantized, so the margin in 1e-6
    units is an EXACT integer difference, binning is integer division
    (width 0.02, top bin open), and accuracy / avg margin are single
    divisions of exact integers (`dround` 6).

    Scale: the scored stream + one per-vector rank, then a ≤5-row
    rollup."""
    top2 = _centroid_top(spark, sf_dir, 2)
    per_vec = top2.groupBy("vec_id", "label").agg(
        F.sum(F.when(F.col("rn") == 1, F.col("ci"))).alias("c1"),
        F.sum(F.when(F.col("rn") == 2, F.col("ci"))).alias("c2"),
        F.sum(F.when(F.col("rn") == 1, F.col("cls"))).alias("pred"),
    )
    margin = (F.col("c1") - F.col("c2")).cast("long")
    binned = per_vec.select(
        F.least(
            F.floor(margin / F.lit(MARGIN_BIN)),
            F.lit(MARGIN_NBINS - 1),
        )
        .cast("int")
        .alias("margin_bin"),
        margin.alias("m"),
        F.when(F.col("pred") == F.col("label"), 1).otherwise(0).alias("ok"),
    )
    return (
        binned.groupBy("margin_bin")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("ok").alias("n_correct"),
            F.sum("m").alias("sm"),
        )
        .select(
            "margin_bin",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("n_correct").cast("long").alias("n_correct"),
            dround(
                F.col("n_correct").cast("double")
                / F.col("n_vectors").cast("double"),
                6,
            ).alias("accuracy"),
            dround(
                F.col("sm").cast("double")
                / F.col("n_vectors").cast("double")
                / F.lit(1e6),
                6,
            ).alias("avg_margin"),
        )
        .orderBy("margin_bin")
    )


QUERIES["sim_eval_margin_reliability"] = sim_eval_margin_reliability

ORACLE["sim_eval_margin_reliability"] = (
    f"WITH {_CENTROID_SQL}, "
    "t2 AS (SELECT vec_id, label, cls, "
    "CAST(ROUND(cos * 1e6) AS BIGINT) AS ci, rn FROM ("
    "SELECT vec_id, label, cls, cos, "
    "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cls) "
    "AS rn FROM sc) WHERE rn <= 2), "
    "pv AS (SELECT vec_id, label, "
    "CAST(SUM(CASE WHEN rn = 1 THEN ci END) AS BIGINT) AS c1, "
    "CAST(SUM(CASE WHEN rn = 2 THEN ci END) AS BIGINT) AS c2, "
    "CAST(SUM(CASE WHEN rn = 1 THEN cls END) AS BIGINT) AS pred "
    "FROM t2 GROUP BY 1, 2), "
    "b AS (SELECT "
    f"CAST(least((c1 - c2) // {MARGIN_BIN}, {MARGIN_NBINS - 1}) AS INT) "
    "AS margin_bin, c1 - c2 AS m, "
    "CASE WHEN pred = label THEN 1 ELSE 0 END AS ok FROM pv) "
    "SELECT margin_bin, CAST(COUNT(*) AS BIGINT) AS n_vectors, "
    "CAST(SUM(ok) AS BIGINT) AS n_correct, "
    "ROUND(CAST(SUM(ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) "
    "AS accuracy, "
    "ROUND(CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) "
    "AS avg_margin "
    "FROM b GROUP BY 1 ORDER BY 1"
)


# --- Two-stage cascade: int8 coarse retrieve -> exact float rerank -----------------

CASCADE_L1 = 20  # coarse-stage survivors per query


def sim_search_cascade_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Retrieve-then-rerank cascade** — the production ANN serving
    pattern (every vector DB's default): a cheap memory-resident tier
    scans EVERYTHING (here the `embedding_quantize_int8` codes with the
    exact integer dot of `sim_search_int8_mips`), keeps ``CASCADE_L1``
    survivors per query, and only those re-touch the full float vectors
    for the exact-cosine rerank to ``TOP_K``. The operator composes the
    repo's quantize + MIPS + cosine pieces into the two-stage plan and
    exposes BOTH ranks, so the coarse-vs-exact disagreement (the
    cascade's quality risk) is directly visible in the output.

    Determinism: stage 1 scores are exact-integer dots rescaled and
    `dround`ed (the MIPS convention, neighbor-id tiebreak); stage 2 is
    the shared left-fold cosine (`functions/vectors.py`) `dround`ed at
    6 dp — both stages fully oracle-checked.

    Scale: stage 1 reads only int8 codes (4x smaller scans) with a
    10-query broadcast; stage 2's float-vector join is driven by the
    BROADCAST survivor set (queries x L1 rows), so the expensive
    vectors are fetched for ~200 rows, not the corpus — that asymmetry
    is the entire economics of cascaded retrieval at billion-vector
    scale."""
    emb = read_table(spark, sf_dir, "embeddings")
    survivors = top_k(
        _int8_scored(emb).withColumnRenamed("score", "coarse_score"),
        "query_id",
        CASCADE_L1,
        F.col("coarse_score").desc(),
        "neighbor_id",
        name="coarse_rank",
    )
    qe, ce = _sides(emb)
    # survivor set (queries x L1) broadcasts; the float-vector scan stays
    # on the probe side and is pruned to the survivors by the join
    reranked = ce.join(
        F.broadcast(survivors.join(F.broadcast(qe), "query_id")),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        dround(cosine(F.col("qe"), F.col("ce")), 6).alias("cosine"),
        "coarse_score",
        "coarse_rank",
    )
    return top_k(
        reranked, "query_id", TOP_K, F.col("cosine").desc(), "neighbor_id", name="rank"
    )


QUERIES["sim_search_cascade_rerank"] = sim_search_cascade_rerank

ORACLE["sim_search_cascade_rerank"] = (
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
    "FROM embeddings), "
    "s AS (SELECT vec_id, emb, "
    "list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale "
    "FROM e WHERE list_max(list_transform(emb, x -> abs(x))) > 0), "
    "codes AS (SELECT vec_id, scale, "
    "list_transform(emb, x -> CAST(ROUND(x / scale) AS BIGINT)) AS code "
    "FROM s), "
    f"q AS (SELECT vec_id AS query_id, scale AS qs, code AS qc "
    f"FROM codes WHERE vec_id < {N_QUERIES}), "
    f"c AS (SELECT vec_id AS neighbor_id, scale AS cs, code AS cc "
    f"FROM codes WHERE vec_id >= {N_QUERIES}), "
    "sc AS (SELECT query_id, neighbor_id, "
    "ROUND(list_dot_product(qc, cc) * qs * cs, 6) AS coarse_score "
    "FROM q CROSS JOIN c), "
    "r1 AS (SELECT query_id, neighbor_id, coarse_score, "
    "ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY coarse_score DESC, neighbor_id) AS coarse_rank FROM sc), "
    f"surv AS (SELECT * FROM r1 WHERE coarse_rank <= {CASCADE_L1}), "
    f"qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
    f"WHERE vec_id < {N_QUERIES}), "
    f"ce AS (SELECT vec_id AS neighbor_id, embedding AS cv "
    f"FROM embeddings WHERE vec_id >= {N_QUERIES}), "
    "rr AS (SELECT sv.query_id, sv.neighbor_id, sv.coarse_score, "
    "CAST(sv.coarse_rank AS INT) AS coarse_rank, "
    f"ROUND({cosine_sql('qe.qv', 'ce.cv')}, 6) AS cosine "
    "FROM surv sv JOIN qe ON sv.query_id = qe.query_id "
    "JOIN ce ON sv.neighbor_id = ce.neighbor_id), "
    "r2 AS (SELECT query_id, neighbor_id, cosine, coarse_score, "
    "coarse_rank, ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id) AS rank FROM rr) "
    "SELECT query_id, neighbor_id, cosine, coarse_score, coarse_rank, "
    f"CAST(rank AS INT) AS rank FROM r2 WHERE rank <= {TOP_K}"
)


# --- NDCG@k retrieval evaluation ----------------------------------------------------

_NDCG_SCALE = 1_000_000_000  # per-rank 1/log2(i+1) gains as scaled int64


def sim_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**NDCG@k** of the exact cosine retriever (Järvelin & Kekäläinen
    2002) with binary relevance (neighbor shares the query's label) —
    the position-discounted member of the retrieval-eval family
    (`sim_eval_mrr_recall` scores the FIRST hit and the hit COUNT;
    NDCG scores the whole ranking's ORDER): DCG@k = Σ rel_i/log2(i+1),
    normalized by the ideal DCG of min(k, total relevant) front-loaded
    hits.

    Determinism: the per-rank discount gains 1/log2(i+1) quantize to
    scaled int64 per TERM (round(1e9/log2(i+1)) — both engines round
    the identical double), so DCG and IDCG are exact integer sums
    (associativity-proof; IDCG's closed list builds via sequence/
    generate_series, always non-empty because the label-total join is
    INNER — sequence(1, m) with m >= 1, rule-3 safe). NDCG is one
    division of two exact ints, `dround` 6.

    Scale: same physical shape as `sim_eval_mrr_recall` — one
    broadcast-scored pass, per-query rank window, a broadcast label
    rollup onto the eval rows."""
    q, c = _sides(
        read_table(spark, sf_dir, "embeddings"),
        embedding=("qe", "ce"),
        label=("q_label", "c_label"),
    )
    scored = _cosine_scored(q, c)
    topk = top_k(
        scored, "query_id", EVAL_K, F.col("cosine").desc(), "neighbor_id", name="rank"
    )
    gain = _nearest_long_away(
        F.lit(float(_NDCG_SCALE))
        / F.log2(F.col("rank").cast("double") + F.lit(1.0))
    )
    rel = F.col("c_label") == F.col("q_label")
    per_q = topk.groupBy("query_id", "q_label").agg(
        F.sum(F.when(rel, gain).otherwise(F.lit(0)))
        .cast("long")
        .alias("dcg_s"),
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("n_hits"),
    )
    j = _label_totals(per_q, c)
    m = F.least(F.lit(EVAL_K).cast("long"), F.col("n_rel_total"))
    idcg_s = F.aggregate(
        F.sequence(F.lit(1).cast("long"), m),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + _nearest_long_away(
            F.lit(float(_NDCG_SCALE))
            / F.log2(i.cast("double") + F.lit(1.0))
        ),
    )
    return j.select(
        "query_id",
        "q_label",
        "n_hits",
        F.col("n_rel_total").cast("long").alias("n_rel_total"),
        dround(
            F.col("dcg_s").cast("double") / float(_NDCG_SCALE), 6
        ).alias("dcg"),
        dround(idcg_s.cast("double") / float(_NDCG_SCALE), 6).alias("idcg"),
        dround(
            F.col("dcg_s").cast("double") / idcg_s.cast("double"), 6
        ).alias("ndcg"),
    ).orderBy("query_id")


QUERIES["sim_eval_ndcg"] = sim_eval_ndcg

ORACLE["sim_eval_ndcg"] = (
    f"WITH q AS (SELECT vec_id AS query_id, embedding AS qe, "
    f"label AS q_label FROM embeddings WHERE vec_id < {N_QUERIES}), "
    f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce, "
    f"label AS c_label FROM embeddings WHERE vec_id >= {N_QUERIES}), "
    "s AS (SELECT query_id, q_label, neighbor_id, c_label, "
    f"ROUND({cosine_sql('q.qe', 'c.ce')}, 6) AS cosine "
    "FROM q CROSS JOIN c), "
    "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id) AS rank FROM s), "
    f"tk AS (SELECT * FROM r WHERE rank <= {EVAL_K}), "
    "pq AS (SELECT query_id, q_label, "
    "CAST(SUM(CASE WHEN c_label = q_label THEN "
    f"CAST(ROUND({_NDCG_SCALE}.0 / log2(CAST(rank AS DOUBLE) + 1.0)) "
    "AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_s, "
    "CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_hits FROM tk GROUP BY 1, 2), "
    "lt AS (SELECT c_label AS q_label, CAST(COUNT(*) AS BIGINT) "
    "AS n_rel_total FROM c GROUP BY 1), "
    "j AS (SELECT pq.*, lt.n_rel_total, "
    "CAST(list_sum(list_transform(generate_series(1, "
    f"CAST(LEAST({EVAL_K}, lt.n_rel_total) AS BIGINT)), "
    f"i -> CAST(ROUND({_NDCG_SCALE}.0 "
    "/ log2(CAST(i AS DOUBLE) + 1.0)) AS BIGINT))) AS BIGINT) "
    "AS idcg_s FROM pq JOIN lt USING (q_label)) "
    "SELECT query_id, q_label, n_hits, n_rel_total, "
    f"ROUND(CAST(dcg_s AS DOUBLE) / {_NDCG_SCALE}.0, 6) AS dcg, "
    f"ROUND(CAST(idcg_s AS DOUBLE) / {_NDCG_SCALE}.0, 6) AS idcg, "
    "ROUND(CAST(dcg_s AS DOUBLE) / CAST(idcg_s AS DOUBLE), 6) AS ndcg "
    "FROM j ORDER BY query_id"
)


# --- Average precision (MAP) retrieval eval -------------------------------------------

_AP_SCALE = 1_000_000_000  # per-rank precision@i terms as scaled int64


def sim_eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Average precision @ k** of the exact cosine retriever (the
    per-query summand of MAP — Manning, Raghavan & Schütze IR §8.4)
    with binary relevance (neighbor shares the query's label):
    AP@k = Σ_{i≤k} rel_i·P@i / min(k, R) where P@i is the running
    precision at rank i. Completes the retrieval-eval family's three
    classical views — `sim_eval_mrr_recall` scores the first hit,
    `sim_eval_ndcg` the discounted order, AP the precision profile
    (it is the area under the uninterpolated P-R curve, the number
    retrieval papers actually quote).

    Determinism: the running hit count h_i is an exact integer window
    sum over the (cosine desc, neighbor_id) ranking (ties broken by
    id, same total order both engines); each rel-weighted P@i = h_i/i
    term quantizes to scaled int64 (both engines round the identical
    double h_i/i off exact sub-2^53 ints), so the cross-rank sum is
    exact and AP is one division of exact integers, `dround` 6.

    Scale: same physical shape as `sim_eval_ndcg` — one broadcast-
    scored pass, one per-query rank window (the running sum rides the
    SAME window sort), a broadcast label rollup."""
    q, c = _sides(
        read_table(spark, sf_dir, "embeddings"),
        embedding=("qe", "ce"),
        label=("q_label", "c_label"),
    )
    scored = _cosine_scored(q, c)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    rel = (F.col("c_label") == F.col("q_label")).cast("long")
    ranked = scored.select(
        "query_id",
        "q_label",
        F.row_number().over(w).alias("rank"),
        rel.alias("rel"),
        F.sum(rel).over(w).alias("h"),
    ).filter(F.col("rank") <= EVAL_K)
    term = F.when(
        F.col("rel") == 1,
        _nearest_long_away(
            F.lit(float(_AP_SCALE))
            * F.col("h").cast("double")
            / F.col("rank").cast("double")
        ),
    ).otherwise(F.lit(0).cast("long"))
    per_q = ranked.groupBy("query_id", "q_label").agg(
        F.sum(term).cast("long").alias("ap_s"),
        F.sum("rel").cast("long").alias("n_hits"),
    )
    j = _label_totals(per_q, c)
    denom = F.least(F.lit(EVAL_K).cast("long"), F.col("n_rel_total"))
    return j.select(
        "query_id",
        "q_label",
        "n_hits",
        F.col("n_rel_total").cast("long").alias("n_rel_total"),
        dround(
            F.col("n_hits").cast("double") / F.lit(float(EVAL_K)), 6
        ).alias("precision_at_k"),
        dround(
            F.col("ap_s").cast("double")
            / F.lit(float(_AP_SCALE))
            / denom.cast("double"),
            6,
        ).alias("average_precision"),
    ).orderBy("query_id")


QUERIES["sim_eval_average_precision"] = sim_eval_average_precision

ORACLE["sim_eval_average_precision"] = (
    f"WITH q AS (SELECT vec_id AS query_id, embedding AS qe, "
    f"label AS q_label FROM embeddings WHERE vec_id < {N_QUERIES}), "
    f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce, "
    f"label AS c_label FROM embeddings WHERE vec_id >= {N_QUERIES}), "
    "s AS (SELECT query_id, q_label, neighbor_id, c_label, "
    f"ROUND({cosine_sql('q.qe', 'c.ce')}, 6) AS cosine "
    "FROM q CROSS JOIN c), "
    "r AS (SELECT query_id, q_label, "
    "ROW_NUMBER() OVER w AS rank, "
    "CAST(c_label = q_label AS BIGINT) AS rel, "
    "SUM(CAST(c_label = q_label AS BIGINT)) OVER w AS h "
    "FROM s WINDOW w AS (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id)), "
    f"tk AS (SELECT * FROM r WHERE rank <= {EVAL_K}), "
    "pq AS (SELECT query_id, q_label, "
    "CAST(SUM(CASE WHEN rel = 1 THEN "
    f"CAST(ROUND({_AP_SCALE}.0 * CAST(h AS DOUBLE) "
    "/ CAST(rank AS DOUBLE)) AS BIGINT) ELSE 0 END) AS BIGINT) AS ap_s, "
    "CAST(SUM(rel) AS BIGINT) AS n_hits FROM tk GROUP BY 1, 2), "
    "lt AS (SELECT c_label AS q_label, CAST(COUNT(*) AS BIGINT) "
    "AS n_rel_total FROM c GROUP BY 1) "
    "SELECT query_id, q_label, n_hits, n_rel_total, "
    f"ROUND(CAST(n_hits AS DOUBLE) / {float(EVAL_K)}, 6) "
    "AS precision_at_k, "
    f"ROUND(CAST(ap_s AS DOUBLE) / {_AP_SCALE}.0 "
    f"/ CAST(LEAST({EVAL_K}, n_rel_total) AS DOUBLE), 6) "
    "AS average_precision "
    "FROM pq JOIN lt USING (q_label) ORDER BY query_id"
)


# --- Simplified (centroid) silhouette of the k-means codebook partition ---------------

SIL_SCALE = 1_000_000_000.0  # per-point silhouette terms as nano-units


def sim_eval_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Simplified silhouette** (Rousseeuw 1987; the centroid-distance
    form of Hruschka et al. 2004 — the O(n·k) variant production
    clustering evals use, since the classic pairwise silhouette is
    O(n²)) of the deterministic k-means codebook partition: per point,
    a = cosine distance to its OWN centroid, b = distance to the
    nearest OTHER centroid, s = (b−a)/max(a,b) — aggregated per
    cluster. The GEOMETRIC cluster-quality view beside
    `sim_eval_cluster_purity`'s label-based view (purity needs ground
    truth; silhouette doesn't — it is the eval you can run on any
    unlabeled corpus before trusting the IVF routing).

    Determinism: the trained codebook is the scaled-int64-exact
    Lloyd's codebook (`_train_kmeans_codebook_exact`); distances come
    from the SAME 6-dp rounded cosines both engines rank identically,
    so a = 1−cc₁, b = 1−cc₂ off the rank-1/rank-2 window rows, and
    each point's s quantizes to scaled int64 before the exact
    per-cluster sum. Zero-denominator points (duplicate of the
    centroid with a tie) define s = 0, guarded identically.

    Scale: one broadcast-codebook scan (n·k scored rows), one
    per-point rank window, one cluster-count rollup — no pairwise
    work anywhere."""
    _, cand = _sides(read_table(spark, sf_dir, "embeddings"))
    cent = _train_kmeans_codebook_exact(cand, IVF_K, KMEANS_ITERS)
    scored = cand.join(F.broadcast(cent)).select(
        "neighbor_id",
        "cent_id",
        dround(cosine(F.col("ce"), F.col("cent_e")), 6).alias("cc"),
    )
    r2 = top_k(scored, "neighbor_id", 2, F.col("cc").desc(), "cent_id")
    pv = r2.groupBy("neighbor_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cent_id"))).alias("cluster"),
        F.max(F.when(F.col("rn") == 1, F.col("cc"))).alias("cc1"),
        F.max(F.when(F.col("rn") == 2, F.col("cc"))).alias("cc2"),
    )
    denom = F.greatest(
        F.lit(1.0) - F.col("cc1"), F.lit(1.0) - F.col("cc2")
    )
    s = F.when(
        denom > 0, (F.col("cc1") - F.col("cc2")) / denom
    ).otherwise(F.lit(0.0))
    q = pv.select(
        "cluster", _nearest_long_away(s * F.lit(SIL_SCALE)).alias("sq")
    )
    per = q.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.when(F.col("sq") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
        F.sum("sq").cast("long").alias("s_sum"),
    )
    return per.select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_members",
        "n_negative",
        dround(
            F.col("s_sum").cast("double")
            / F.col("n_members").cast("double")
            / F.lit(SIL_SCALE),
            6,
        ).alias("avg_silhouette"),
    ).orderBy("cluster")


QUERIES["sim_eval_silhouette"] = sim_eval_silhouette


def _silhouette_oracle_sql() -> str:
    cos_cc = cosine_sql("ce", "cent_e")
    parts = [
        f"cand AS (SELECT vec_id AS neighbor_id, embedding AS ce "
        f"FROM embeddings WHERE vec_id >= {N_QUERIES})",
    ]
    unroll, prev = kmeans_unroll_parts(IVF_K, KMEANS_ITERS)
    parts += unroll
    parts += [
        "cs AS (SELECT neighbor_id, cent_id, "
        f"ROUND({cos_cc}, 6) AS cc, "
        "ROW_NUMBER() OVER (PARTITION BY neighbor_id "
        f"ORDER BY ROUND({cos_cc}, 6) DESC, cent_id) AS rn "
        f"FROM cand CROSS JOIN {prev})",
        "pv AS (SELECT neighbor_id, "
        "MAX(CASE WHEN rn = 1 THEN cent_id END) AS cluster, "
        "MAX(CASE WHEN rn = 1 THEN cc END) AS cc1, "
        "MAX(CASE WHEN rn = 2 THEN cc END) AS cc2 "
        "FROM cs WHERE rn <= 2 GROUP BY 1)",
        "q AS (SELECT cluster, CAST(ROUND(CASE WHEN "
        "GREATEST(1.0 - cc1, 1.0 - cc2) > 0 THEN (cc1 - cc2) "
        "/ GREATEST(1.0 - cc1, 1.0 - cc2) ELSE 0.0 END "
        f"* {SIL_SCALE:.1f}) AS BIGINT) AS sq FROM pv)",
    ]
    return (
        "WITH " + ", ".join(parts)
        + " SELECT CAST(cluster AS BIGINT) AS cluster, "
        "CAST(COUNT(*) AS BIGINT) AS n_members, "
        "CAST(SUM(CASE WHEN sq < 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_negative, "
        "ROUND(CAST(SUM(sq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) "
        f"/ {SIL_SCALE:.1f}, 6) AS avg_silhouette "
        "FROM q GROUP BY 1 ORDER BY 1"
    )


ORACLE["sim_eval_silhouette"] = _silhouette_oracle_sql()


# --- Expected calibration error of the centroid classifier ----------------------------

ECE_NBINS = 10
_ECE_TERM_SCALE = 1_000_000.0


def sim_eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Expected / maximum calibration error** (Naeini et al. AAAI'15;
    Guo et al. ICML'17) of the nearest-centroid classifier, using the
    affinely-rescaled top-1 cosine (cos+1)/2 as the confidence score —
    the SCALAR summary over `sim_eval_margin_reliability`'s table:
    ECE = Σ_b (n_b/N)·|acc_b − conf_b|, MCE = max_b |acc_b − conf_b|.
    A score can rank perfectly (high AUC) and still be badly
    calibrated — ECE is the number that says whether thresholding the
    score AS a probability is safe.

    Determinism: the 6-dp top-1 cosine is an exact 1e-6-unit integer,
    so confidence binning is integer division ((ci+1e6)//(2e6/B)) and
    each bin's |Σok − Σ(ci+1e6)/2e6| folds the weighting exactly —
    one fixed-shape double per bin quantized to scaled int64, summed
    exactly; MCE takes the max over per-bin quantized ints.

    Scale: the scored stream + one per-vector rank + a ≤10-row bin
    rollup."""
    top1 = _centroid_top(spark, sf_dir, 1)
    binw = int(2_000_000 // ECE_NBINS)
    binned = top1.select(
        F.least(
            F.floor((F.col("ci") + F.lit(1_000_000)) / F.lit(binw)),
            F.lit(ECE_NBINS - 1),
        )
        .cast("int")
        .alias("bin"),
        (F.col("ci") + F.lit(1_000_000)).alias("cshift"),
        F.when(F.col("cls") == F.col("label"), 1).otherwise(0).alias("ok"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("ok").cast("long").alias("okb"),
        F.sum("cshift").cast("long").alias("sb"),
    )
    gap = F.abs(
        F.col("okb").cast("double")
        - F.col("sb").cast("double") / F.lit(2_000_000.0)
    )
    per_bin2 = per_bin.select(
        "nb",
        "okb",
        "sb",
        _nearest_long_away(gap * F.lit(_ECE_TERM_SCALE)).alias("gq"),
        _nearest_long_away(
            gap
            / F.col("nb").cast("double")
            * F.lit(_ECE_TERM_SCALE)
        ).alias("bq"),
    )
    agg = per_bin2.agg(
        F.sum("nb").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_bins_nonempty"),
        F.sum("okb").cast("long").alias("ok_tot"),
        F.sum("sb").cast("long").alias("s_tot"),
        F.sum("gq").cast("long").alias("ece_q"),
        F.max("bq").cast("long").alias("mce_q"),
    )
    n_d = F.col("n").cast("double")
    return agg.filter(F.col("n") > 0).select(
        F.col("n").alias("n_vectors"),
        "n_bins_nonempty",
        dround(F.col("ok_tot").cast("double") / n_d, 6).alias(
            "overall_accuracy"
        ),
        dround(
            F.col("s_tot").cast("double") / F.lit(2_000_000.0) / n_d, 6
        ).alias("avg_confidence"),
        dround(
            F.col("ece_q").cast("double") / F.lit(_ECE_TERM_SCALE) / n_d,
            6,
        ).alias("ece"),
        dround(
            F.col("mce_q").cast("double") / F.lit(_ECE_TERM_SCALE), 6
        ).alias("mce"),
    )


QUERIES["sim_eval_ece"] = sim_eval_ece

ORACLE["sim_eval_ece"] = (
    f"WITH {_CENTROID_SQL}, "
    "t1 AS (SELECT vec_id, label, cls, "
    "CAST(ROUND(cos * 1e6) AS BIGINT) AS ci FROM ("
    "SELECT vec_id, label, cls, cos, "
    "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cls) "
    "AS rn FROM sc) WHERE rn = 1), "
    "b AS (SELECT "
    f"CAST(least((ci + 1000000) // {int(2_000_000 // ECE_NBINS)}, "
    f"{ECE_NBINS - 1}) AS INT) AS bin, "
    "ci + 1000000 AS cshift, "
    "CASE WHEN cls = label THEN 1 ELSE 0 END AS ok FROM t1), "
    "pb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb, "
    "CAST(SUM(ok) AS BIGINT) AS okb, "
    "CAST(SUM(cshift) AS BIGINT) AS sb FROM b GROUP BY 1), "
    "pb2 AS (SELECT nb, okb, sb, "
    "CAST(ROUND(ABS(CAST(okb AS DOUBLE) "
    f"- CAST(sb AS DOUBLE) / 2000000.0) * {_ECE_TERM_SCALE:.1f}) "
    "AS BIGINT) AS gq, "
    "CAST(ROUND(ABS(CAST(okb AS DOUBLE) "
    "- CAST(sb AS DOUBLE) / 2000000.0) / CAST(nb AS DOUBLE) "
    f"* {_ECE_TERM_SCALE:.1f}) AS BIGINT) AS bq FROM pb), "
    "a AS (SELECT CAST(SUM(nb) AS BIGINT) AS n, "
    "CAST(COUNT(*) AS INT) AS n_bins_nonempty, "
    "CAST(SUM(okb) AS BIGINT) AS ok_tot, "
    "CAST(SUM(sb) AS BIGINT) AS s_tot, "
    "CAST(SUM(gq) AS BIGINT) AS ece_q, "
    "CAST(MAX(bq) AS BIGINT) AS mce_q FROM pb2) "
    "SELECT n AS n_vectors, n_bins_nonempty, "
    "ROUND(CAST(ok_tot AS DOUBLE) / CAST(n AS DOUBLE), 6) "
    "AS overall_accuracy, "
    "ROUND(CAST(s_tot AS DOUBLE) / 2000000.0 / CAST(n AS DOUBLE), 6) "
    "AS avg_confidence, "
    f"ROUND(CAST(ece_q AS DOUBLE) / {_ECE_TERM_SCALE:.1f} "
    "/ CAST(n AS DOUBLE), 6) AS ece, "
    f"ROUND(CAST(mce_q AS DOUBLE) / {_ECE_TERM_SCALE:.1f}, 6) AS mce "
    "FROM a WHERE n > 0"
)


# --- ANN measured-recall harness (round 15) ----------------------------------
# VERDICT r14 item 7: sim_search_pq_adc and sim_search_hamming_binary were
# the last ANN variants without a measured-quality twin. These two keys
# score each compressed-code search's top-k against the exact-cosine truth
# set over the SAME len>=64 corpus — the `dedup_eval_minhash_lsh` pattern
# applied to the vector family. Both the ANN ranking and the truth ranking
# are fully deterministic here, so recall itself is hash-checked
# cross-engine (not just asserted in a unit test).


def _exact_cosine_topk_64(emb: DataFrame) -> DataFrame:
    """Exact cosine top-k truth set restricted to len>=64 vectors — the
    same corpus the PQ and Hamming searches operate on (their filter is
    part of the operator contract; the truth side must match it or
    recall would be measured against neighbors the ANN never saw)."""
    q, c = _sides(emb.filter(F.size("embedding") >= 64))
    return top_k(
        _cosine_scored(q, c),
        "query_id",
        TOP_K,
        F.col("cosine").desc(),
        "neighbor_id",
        name="rank",
    ).select("query_id", "neighbor_id")


def _ann_recall_vs_exact(ann: DataFrame, truth: DataFrame) -> DataFrame:
    """recall@k per query: |ANN top-k ∩ exact top-k| / k. LEFT join from
    the ANN rows onto the truth pairs (both sides are exactly k rows per
    query, so the denominator is the constant k); one broadcast-size
    join — both inputs are n_queries x k rows."""
    hits = ann.select("query_id", "neighbor_id").join(
        truth.withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            dround(
                F.col("n_hits").cast("double") / F.lit(float(TOP_K)), 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def sim_eval_recall_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN eval — **measured recall@k of the sign-bit Hamming
    search** (`sim_search_hamming_binary`) against the exact-cosine truth
    set. Sign quantization keeps the hyperplane-LSH collision geometry
    (E[hamming] ∝ angle), so recall@5 is the number a deployment tunes
    word count against; this key pins it cross-engine instead of leaving
    the compressed search's quality un-measured. Fixture reading: mean
    recall@5 ≈ 0.24 at sf0.01 vs a 5/490 ≈ 0.01 chance level (~24x) —
    asserted above chance in tests/test_dedup_similarity.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    return _ann_recall_vs_exact(
        sim_search_hamming_binary(spark, sf_dir),
        _exact_cosine_topk_64(emb),
    )


def sim_eval_recall_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN eval — **measured recall@k of the PQ-ADC search**
    (`sim_search_pq_adc`, 64 floats → 4 codes) against the exact-cosine
    truth set — the codebook-quality number (Jégou PAMI'11 reports
    exactly this curve) for the 64x-compression trade. With the
    deterministic 8-entry stand-in codebook (12 bits/vector) the fixture
    reads mean recall@5 ≈ 0.08 at sf0.01 (~8x the 0.01 chance level;
    a trained codebook raises it, the harness measures whatever codebook
    is plugged in) — asserted above chance in
    tests/test_dedup_similarity.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    return _ann_recall_vs_exact(
        sim_search_pq_adc(spark, sf_dir),
        _exact_cosine_topk_64(emb),
    )


QUERIES["sim_eval_recall_hamming"] = sim_eval_recall_hamming
QUERIES["sim_eval_recall_pq_adc"] = sim_eval_recall_pq_adc

_TRUTH64_SQL = (
    "WITH q AS (SELECT vec_id AS query_id, embedding AS qe "
    f"FROM embeddings WHERE vec_id < {N_QUERIES} "
    "AND len(embedding) >= 64), "
    "c AS (SELECT vec_id AS neighbor_id, embedding AS ce "
    f"FROM embeddings WHERE vec_id >= {N_QUERIES} "
    "AND len(embedding) >= 64), "
    f"s AS (SELECT query_id, neighbor_id, ROUND({_COS_QC}, 6) AS cosine "
    "FROM q CROSS JOIN c), "
    "r AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER ("
    "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
    "FROM s) "
    f"SELECT query_id, neighbor_id FROM r WHERE rank <= {TOP_K}"
)


def _ann_recall_oracle(ann_sql: str, truth_sql: str | None = None) -> str:
    """Compose the recall@k oracle from the ANN key's own oracle SQL and
    an exact-cosine truth SQL as derived tables (each keeps its own WITH
    chain). Arithmetic mirrors `_ann_recall_vs_exact` exactly: LEFT join,
    CASE-counted hits, CAST-to-DOUBLE division, ROUND 6."""
    t_sql = _TRUTH64_SQL if truth_sql is None else truth_sql
    return (
        "SELECT ann.query_id, "
        "CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_hits, "
        "ROUND(CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 "
        "ELSE 0 END) AS DOUBLE) / "
        f"{float(TOP_K)!r}, 6) AS recall_at_k "
        f"FROM ({ann_sql}) ann "
        f"LEFT JOIN ({t_sql}) t "
        "ON t.query_id = ann.query_id "
        "AND t.neighbor_id = ann.neighbor_id "
        "GROUP BY ann.query_id ORDER BY ann.query_id"
    )


ORACLE["sim_eval_recall_hamming"] = _ann_recall_oracle(
    ORACLE["sim_search_hamming_binary"]
)
ORACLE["sim_eval_recall_pq_adc"] = _ann_recall_oracle(
    ORACLE["sim_search_pq_adc"]
)


def sim_eval_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN eval — **measured recall@k of the IVF probe
    search** (`sim_search_ann_ivf`, 16 lists / 4 probes) against the
    plain exact-cosine truth set (IVF filters nothing, so the truth is
    the unfiltered ranking). Completes the measured-recall family over
    every ANN variant: this key scores the PARTITION-PRUNING recall loss
    (a true neighbor whose list the query never probes), where the PQ
    and Hamming twins score QUANTIZATION loss."""
    return _ann_recall_vs_exact(
        sim_search_ann_ivf(spark, sf_dir),
        sim_search_cosine(spark, sf_dir).select("query_id", "neighbor_id"),
    )


def sim_eval_recall_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN eval — **measured recall@k of the symmetric-int8
    MIPS search** (`sim_search_int8_mips`) against the exact-cosine
    truth. int8 keeps ~7 significant bits per dim, so its recall sits
    near 1.0 — the measured anchor for the quantization ladder
    (int8 ≫ 64-bit sign ≫ 12-bit PQ) the docstrings assert."""
    return _ann_recall_vs_exact(
        sim_search_int8_mips(spark, sf_dir),
        sim_search_cosine(spark, sf_dir).select("query_id", "neighbor_id"),
    )


QUERIES["sim_eval_recall_ivf"] = sim_eval_recall_ivf
QUERIES["sim_eval_recall_int8"] = sim_eval_recall_int8

_TRUTH_PLAIN_SQL = (
    "SELECT query_id, neighbor_id FROM ("
    + ORACLE["sim_search_cosine"]
    + ") cx"
)

ORACLE["sim_eval_recall_ivf"] = _ann_recall_oracle(
    ORACLE["sim_search_ann_ivf"], _TRUTH_PLAIN_SQL
)
ORACLE["sim_eval_recall_int8"] = _ann_recall_oracle(
    ORACLE["sim_search_int8_mips"], _TRUTH_PLAIN_SQL
)
