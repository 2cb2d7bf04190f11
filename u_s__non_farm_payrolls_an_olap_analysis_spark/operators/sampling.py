"""Deterministic sampling & split operators (training-pipeline north star).

A 100 TB training-data pipeline needs samples and train/test splits that
are (a) reproducible across runs/engines, (b) computable in one scan with
no shuffle, and (c) key-stable (all rows of a key land on the same side —
no leakage between train and test). Random `df.sample` gives none of
these portably; the scalable idiom is **key-modulus (hash) bucketing**: a
pure per-row projection, embarrassingly parallel, and pushdown-friendly.

Here the bucket function is a plain key modulus so the DuckDB oracle is
bit-identical; a production pipeline with adversarial key distributions
would use a salted hash (``xxhash64(key, seed)``) — same structure,
engine-specific hash, which is why the portable form is canonical here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import d38, dsum, dsum_sql, dround
from ..io import read_table


def sample_by_key_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic sample of orders by key bucket (o_orderkey % 100
    < 10): one scan, zero shuffle before the summary aggregate, identical
    membership on every run and engine."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 100 < 10)
        .groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(dsum("o_totalprice"), 4).alias("sampled_total"),
        )
        .orderBy("year")
    )


def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-stable 80/20 split of documents by doc_id bucket. Every doc_id
    lands in exactly one side (disjoint + exhaustive by construction —
    the property random splits must be engineered to guarantee); the
    output is the per-side profile a pipeline logs before training."""
    docs = read_table(spark, sf_dir, "documents")
    split = F.when(F.col("doc_id") % 10 < 8, F.lit("train")).otherwise(
        F.lit("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("total_chars"),
        )
        .orderBy("split")
    )


def sample_stratified_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum rates (order status
    'F' at 5%, 'O' at 10%, else 20%) via a CASE over the key bucket —
    the `sampleBy` shape, but reproducible and oracle-checkable. One
    scan; the rate table would be a broadcast map at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    bucket = F.col("o_orderkey") % 100
    rate = (
        F.when(F.col("o_orderstatus") == "F", F.lit(5))
        .when(F.col("o_orderstatus") == "O", F.lit(10))
        .otherwise(F.lit(20))
    )
    return (
        orders.filter(bucket < rate)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("o_orderstatus")
    )


DOMAIN_CAP = 18  # fixture sources carry 25 docs each — the cap bites


def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the anti-domination sampler every crawl
    pipeline runs (no single domain may contribute more than CAP docs).
    Selection priority is a pure-arithmetic Lehmer permutation of doc_id
    (``doc_id * 48271 % 2147483647``) so the kept set is a uniform,
    engine-reproducible sample rather than a head-of-file bias;
    ``row_number`` per domain then applies the cap. One shuffle on the
    domain key; a skewed mega-domain would be pre-thinned with the
    salted two-phase top-k (functions/skew.py) since only CAP winners
    per domain ever matter."""
    docs = read_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    pri = (F.col("doc_id") * F.lit(48271)) % F.lit(2147483647)
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    ranked = docs.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") <= DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars"))).alias("kept_chars"),
        )
        .orderBy("source")
    )


QUERIES = {
    "sample_by_key_mod": sample_by_key_mod,
    "split_train_test": split_train_test,
    "sample_stratified_rates": sample_stratified_rates,
    "sample_domain_cap": sample_domain_cap,
}

ORACLE = {
    "sample_by_key_mod": (
        "SELECT CAST(year(o_orderdate) AS INT) AS year, "
        "COUNT(*) AS n_sampled, "
        f"ROUND({dsum_sql('o_totalprice')}, 4) AS sampled_total "
        "FROM orders WHERE o_orderkey % 100 < 10 "
        "GROUP BY 1 ORDER BY 1"
    ),
    "split_train_test": (
        "SELECT CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'test' END "
        "AS split, COUNT(*) AS n_docs, "
        "CAST(SUM(length(text)) AS BIGINT) AS total_chars "
        "FROM documents GROUP BY 1 ORDER BY 1"
    ),
    "sample_stratified_rates": (
        "SELECT o_orderstatus, COUNT(*) AS n_sampled FROM orders "
        "WHERE o_orderkey % 100 < CASE WHEN o_orderstatus = 'F' THEN 5 "
        "WHEN o_orderstatus = 'O' THEN 10 ELSE 20 END "
        "GROUP BY 1 ORDER BY 1"
    ),
    "sample_domain_cap": (
        "WITH r AS (SELECT source, n_chars, "
        "ROW_NUMBER() OVER (PARTITION BY source "
        "ORDER BY (doc_id * 48271) % 2147483647, doc_id) AS rn "
        "FROM documents) "
        "SELECT source, COUNT(*) AS n_total, "
        f"CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_kept, "
        f"CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN n_chars END) "
        "AS BIGINT) AS kept_chars "
        "FROM r GROUP BY 1 ORDER BY 1"
    ),
}


# --- Temperature-scaled mixture weights ------------------------------------

MIX_TEMPERATURE = 0.5   # alpha: 1 = proportional, 0 = uniform (T5 uses 0.5)
MIX_TOKEN_BUDGET = 100_000


def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data mixing (the T5 / UniMax recipe): sampling
    weight ``w_i ∝ n_i^α`` over per-source token counts, α < 1 boosting
    low-resource sources relative to proportional sampling. Output per
    source: token count, natural share, temperature share, and the token
    budget allocated under each — the table a mixture-aware loader
    consumes (cf. the fixed-quota sibling ``sample_corpus_mixture``).

    One aggregate over the corpus; shares are windows over the ~20
    aggregated source rows, never over documents. ``pow(n, 0.5)`` is
    IEEE-correctly-rounded sqrt in both engines; shares round at 6 dp
    and budgets allocate by ``floor`` so everything stays
    deterministic."""
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    w = Window.partitionBy()
    nat = F.col("n_tokens") / F.sum("n_tokens").over(w)
    temp_w = F.pow(F.col("n_tokens").cast("double"), MIX_TEMPERATURE)
    temp = temp_w / F.sum(temp_w).over(w)
    return per_src.select(
        "source",
        "n_tokens",
        dround(nat, 6).alias("natural_share"),
        dround(temp, 6).alias("temp_share"),
        F.floor(nat * MIX_TOKEN_BUDGET).cast("long").alias("natural_budget"),
        F.floor(temp * MIX_TOKEN_BUDGET).cast("long").alias("temp_budget"),
    ).orderBy("source")


QUERIES["sample_temperature_mixture"] = sample_temperature_mixture

ORACLE["sample_temperature_mixture"] = (
    "WITH s AS (SELECT source, "
    "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens "
    "FROM documents GROUP BY 1) "
    "SELECT source, n_tokens, "
    "ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) "
    "AS natural_share, "
    f"ROUND(pow(CAST(n_tokens AS DOUBLE), {MIX_TEMPERATURE}) / "
    f"SUM(pow(CAST(n_tokens AS DOUBLE), {MIX_TEMPERATURE})) OVER (), 6) "
    "AS temp_share, "
    "CAST(FLOOR(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () "
    f"* {MIX_TOKEN_BUDGET}) AS BIGINT) AS natural_budget, "
    f"CAST(FLOOR(pow(CAST(n_tokens AS DOUBLE), {MIX_TEMPERATURE}) / "
    f"SUM(pow(CAST(n_tokens AS DOUBLE), {MIX_TEMPERATURE})) OVER () "
    f"* {MIX_TOKEN_BUDGET}) AS BIGINT) AS temp_budget "
    "FROM s ORDER BY source"
)


# --- Weighted reservoir sampling (Efraimidis & Spirakis 2006) ---------------

ARES_K = 200
_ARES_DENOM = 4294967296.0  # 2^32


def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **weighted reservoir sampling without replacement**
    (Efraimidis & Spirakis, IPL 2006, "A-Res"): each record draws
    ``u ~ U(0,1)`` and keys on ``u^(1/w)``; the k largest keys are an
    exact weighted sample without replacement. Monotone-equivalently we
    rank on ``ln(u)/w`` (descending) — no pow, better conditioning.
    The draw is a SEEDED md5-derived uniform (portable across engines
    and across reruns — the reproducible-pipeline form; swap in
    ``rand()`` for true randomness at the cost of reproducibility).
    Weights here are document lengths: the long-doc-biased sample a
    token-budget curator draws.

    Scale shape: one scan-sized projection (hash, ln, divide — all
    codegen) into a TakeOrdered top-k; no global sort, no shuffle beyond
    the k-row merge. Keys round at 6 dp with doc_id tiebreak so the cut
    is deterministic cross-engine.
    """
    docs = read_table(spark, sf_dir, "documents")
    w = F.col("n_chars").cast("double")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ares:"), F.col("doc_id"))), 1, 8),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(_ARES_DENOM)
    from ..functions.numerics import dround

    r = dround(F.log(u) / w, 6)
    return (
        docs.filter(F.col("text").isNotNull() & (F.col("n_chars") > 0))
        .select("doc_id", F.col("n_chars").alias("weight"), r.alias("ares_key"))
        .orderBy(F.col("ares_key").desc(), F.col("doc_id"))
        .limit(ARES_K)
    )


QUERIES["sample_weighted_reservoir"] = sample_weighted_reservoir

ORACLE["sample_weighted_reservoir"] = (
    "SELECT doc_id, n_chars AS weight, "
    "ROUND(LN((CAST(('0x' || substr(md5('ares:' || doc_id), 1, 8)) "
    f"AS BIGINT) + 0.5) / {_ARES_DENOM}) / n_chars, 6) AS ares_key "
    "FROM documents WHERE text IS NOT NULL AND n_chars > 0 "
    f"ORDER BY ares_key DESC, doc_id LIMIT {ARES_K}"
)


# --- Systematic (low-variance) weighted resampling ---------------------------

SYS_DRAWS = 500          # N resample positions
SYS_BUCKET_SPAN = 256    # doc_ids per prefix-sum bucket (shared device)


def sample_systematic_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **systematic resampling** (the low-variance scheme of
    particle filtering, Kitagawa JCGS 1996; Douc & Cappé ISPA 2005 for
    the variance ordering): place ``N`` equally-spaced positions
    ``u_k = (k + ½)·W/N`` over the cumulative weight axis and give each
    document one copy per position falling in its weight interval —
    every document receives ``floor(N·w/W)`` or ``ceil(N·w/W)`` copies
    (variance strictly below multinomial draws), and the deterministic
    mid-grid phase replaces the scheme's single random offset (the
    repo-wide no-RNG convention; one seeded uniform restores it in
    production).

    The per-doc copy count is CLOSED-FORM integer arithmetic on the
    inclusive prefix sum: ``count_i = f(c_i) − f(c_i − w_i)`` with
    ``f(c) = min(N, (2·N·c + W − 1) div (2·W))`` — exact int64 in both
    engines, no floats anywhere, and ``Σ count_i = f(W) = N`` by
    construction (asserted in tests). The prefix sum itself is the
    distributed TWO-LEVEL device of ``pack_training_sequences`` (bucket
    rollup takes the only global cumsum; per-doc offsets ride a
    bounded within-bucket window + broadcast bucket offsets) — never a
    corpus-wide single-task ORDER BY window.

    Weight = ``n_chars`` (the natural size-proportional sampling prior;
    any non-negative per-doc score drops in). Zero-copy docs are
    filtered — the output IS the resampled multiset.
    """
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        F.expr(f"doc_id div {SYS_BUCKET_SPAN}").alias("bucket"),
    )
    bucket_tot = lens.groupBy("bucket").agg(F.sum("w").alias("bw"))
    w_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_off = bucket_tot.select(
        "bucket",
        F.coalesce(F.sum("bw").over(w_buckets), F.lit(0)).alias("boff"),
    )
    total = lens.agg(F.sum("w").alias("wtot"))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = (
        lens.join(F.broadcast(bucket_off), "bucket")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "w",
            "wtot",
            (F.col("boff") + F.sum("w").over(w_in)).alias("c_hi"),
        )
    )
    n = SYS_DRAWS

    def f(c):  # noqa: ANN001 — Column-in, Column-out closed form
        return F.least(
            F.lit(n).cast("long"),
            F.expr(f"({2 * n} * {c} + wtot - 1) div (2 * wtot)"),
        )

    return (
        placed.select(
            "doc_id",
            "w",
            (f("c_hi") - f("(c_hi - w)")).cast("int").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 0)
        .orderBy("doc_id")
    )


QUERIES["sample_systematic_resample"] = sample_systematic_resample

ORACLE["sample_systematic_resample"] = (
    "WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w "
    "FROM documents), "
    "c AS (SELECT doc_id, w, "
    "CAST(SUM(w) OVER (ORDER BY doc_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c_hi, "
    "CAST(SUM(w) OVER () AS BIGINT) AS wtot FROM t), "
    "k AS (SELECT doc_id, w, "
    f"LEAST({SYS_DRAWS}, ({2 * SYS_DRAWS} * c_hi + wtot - 1) "
    "// (2 * wtot)) - "
    f"LEAST({SYS_DRAWS}, ({2 * SYS_DRAWS} * (c_hi - w) + wtot - 1) "
    "// (2 * wtot)) AS n_copies FROM c) "
    "SELECT doc_id, w, CAST(n_copies AS INT) AS n_copies FROM k "
    "WHERE n_copies > 0 ORDER BY doc_id"
)


# --- greedy k-center coreset (Gonzalez 1985 farthest-first traversal) --------

KC_K = 6  # centers selected; unrolled in the oracle
KC_S = 1_000_000.0  # 6-dp cosine-distance scale


def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **greedy k-center coreset selection** (Gonzalez,
    TCS 1985 farthest-first traversal; 2-approximation for the k-center
    radius): seed with the lowest vec_id, then ``KC_K − 1`` times pick
    the point FARTHEST (max min-cosine-distance) from the centers
    chosen so far — the classic diversity sampler for training-data
    curation (pick the k most mutually-dissimilar exemplars of an
    embedding corpus).

    Scale contract: Gonzalez is inherently k passes of one
    distance-per-point each — O(n·k) total, each pass a broadcast of
    the SINGLE new center into a map-side distance + running
    ``least()``, then a TakeOrdered argmax. No pairwise blowup, no
    collect: the argmax row stays distributed (1-row localCheckpoint →
    broadcast crossJoin, the BPE-trainer device). The point set is
    checkpointed once up front so the k stages re-read materialized
    blocks instead of re-scanning the source (CLAUDE.md rule 5), and
    the running min-distance frame is checkpointed per stage because
    each stage references it twice (argmax + update).

    Determinism: distances are 6-dp scaled int64
    (``round((1−cos)·1e6)``, the MMR discipline) so every min/argmax
    compares exact integers; ties break on vec_id. The seed's
    sel_dist is 0 by convention (no prior centers).

    vs reference: no analogue (no vector surface in `dashboard_nfp.py`).
    """
    from ..functions.vectors import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    pts = (
        emb.filter(F.col("vec_id") >= 10)
        .select("vec_id", F.col("embedding").alias("e"))
        .localCheckpoint(eager=True)
    )
    c1 = pts.orderBy("vec_id").limit(1).localCheckpoint(eager=True)

    def dist_s(e_col, ce_col):
        return (
            dround((F.lit(1.0) - cosine(e_col, ce_col)) * KC_S, 0)
            .cast("long")
        )

    md = pts.crossJoin(
        F.broadcast(c1.select(F.col("e").alias("ce")))
    ).select(
        "vec_id", "e", dist_s(F.col("e"), F.col("ce")).alias("md_s")
    ).localCheckpoint(eager=True)

    centers = [
        c1.select(
            F.lit(1).cast("int").alias("center_rank"),
            "vec_id",
            F.lit(0).cast("long").alias("seld_s"),
        )
    ]
    for t in range(2, KC_K + 1):
        nxt = (
            md.orderBy(F.col("md_s").desc(), "vec_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        centers.append(
            nxt.select(
                F.lit(t).cast("int").alias("center_rank"),
                "vec_id",
                F.col("md_s").alias("seld_s"),
            )
        )
        if t < KC_K:
            md = (
                md.crossJoin(F.broadcast(nxt.select(F.col("e").alias("ce"))))
                .select(
                    "vec_id",
                    "e",
                    F.least(
                        F.col("md_s"), dist_s(F.col("e"), F.col("ce"))
                    ).alias("md_s"),
                )
                .localCheckpoint(eager=True)
            )
    out = centers[0]
    for cdf in centers[1:]:
        out = out.unionByName(cdf)
    return out.select(
        "center_rank",
        "vec_id",
        (F.col("seld_s").cast("double") / KC_S).alias("sel_dist"),
    ).orderBy("center_rank")


QUERIES["sample_coreset_kcenter"] = sample_coreset_kcenter


def _kcenter_oracle_sql() -> str:
    """Unrolled farthest-first traversal: c1 = lowest vec_id, then per
    stage m_t (running min distance) -> c_{t+1} (argmax)."""
    from ..functions.vectors import cosine_sql

    def d(e, ce):
        return f"CAST(ROUND((1 - {cosine_sql(e, ce)}) * {KC_S}) AS BIGINT)"

    ctes = [
        "pts AS (SELECT vec_id, embedding AS e FROM embeddings "
        "WHERE vec_id >= 10)",
        "c1 AS (SELECT vec_id AS cid, e AS ce FROM pts "
        "ORDER BY vec_id LIMIT 1)",
        f"m1 AS (SELECT p.vec_id, p.e, {d('p.e', 'c.ce')} AS md "
        f"FROM pts p, c1 c)",
    ]
    for t in range(2, KC_K + 1):
        p = t - 1
        ctes.append(
            f"c{t} AS (SELECT vec_id AS cid, e AS ce, md AS seld "
            f"FROM m{p} ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if t < KC_K:
            ctes.append(
                f"m{t} AS (SELECT m.vec_id, m.e, "
                f"LEAST(m.md, {d('m.e', 'c.ce')}) AS md "
                f"FROM m{p} m, c{t} c)"
            )
    union = " UNION ALL ".join(
        ["SELECT CAST(1 AS INT) AS center_rank, cid AS vec_id, "
         "0.0 AS sel_dist FROM c1"]
        + [
            f"SELECT CAST({t} AS INT), cid, "
            f"CAST(seld AS DOUBLE) / {KC_S} FROM c{t}"
            for t in range(2, KC_K + 1)
        ]
    )
    return (
        "WITH " + ", ".join(ctes) + " SELECT * FROM (" + union
        + ") ORDER BY center_rank"
    )


ORACLE["sample_coreset_kcenter"] = _kcenter_oracle_sql()


# --- Neyman optimal stratified allocation ------------------------------------

NEYMAN_BUDGET = 10_000  # total sample size to allocate across strata


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Neyman optimal allocation** (Neyman, JRSS 1934): size each
    stratum's sample share proportional to N_h * S_h (stratum size x
    within-stratum standard deviation) — the allocation that minimizes
    the variance of the stratified mean for a fixed total budget. Strata
    = document sources, y = document length; the principled upgrade of
    `sample_stratified_rates`' fixed-rate design (big noisy strata get
    MORE than proportional share, uniform strata less).

    Determinism: per-stratum M2 = n*S2 - S1^2 is an exact integer
    (DECIMAL(38,0) == HUGEINT — n*S2 overflows int64 at ~100x), so
    sd = sqrt(M2)/n is one IEEE sqrt of a cast-from-exact integer. The
    cross-stratum normalizer must NOT be a float sum (engine summation
    order differs): each weight w_h = N_h * sd_h is re-scaled to int64
    (x1e4, ties-away) and the normalizer is the exact INTEGER sum of
    those — shares and allocations are then single double divisions of
    exact integers. Allocation = floor(budget * w_h / W): floor of a
    deterministic double quotient, identical in both engines.

    Scale: one map-side-combinable aggregate over the corpus (count +
    two power sums per stratum); the allocation algebra runs on the
    ~source-count-row frame with the scalar W broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    y = F.col("n_chars").cast("long")
    per = docs.groupBy(F.col("source").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("s1"),
        F.sum(y * y).alias("s2"),
    )

    n = F.col("n")
    m2 = (d38(n) * d38("s2") - d38("s1") * d38("s1")).alias("m2e")
    sd = F.sqrt(F.col("m2e").cast("double")) / n.cast("double")
    weighted = per.select("stratum", "n", "s1", m2).select(
        "stratum",
        "n",
        "s1",
        "m2e",
        dround(sd, 4).alias("sd_chars"),
        # integer re-scale of N_h * sd_h: the cross-stratum sum must be
        # exact, so it never rides a float accumulation
        dround(n.cast("double") * sd * F.lit(10_000.0), 0)
        .cast("long")
        .alias("w_s"),
    )
    tot = weighted.agg(F.sum("w_s").alias("w_tot"))
    w_d = F.col("w_s").cast("double")
    wt_d = F.col("w_tot").cast("double")
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            F.col("n").cast("long").alias("n_docs"),
            dround(
                F.col("s1").cast("double") / F.col("n").cast("double"), 4
            ).alias("mean_chars"),
            "sd_chars",
            dround(w_d / wt_d, 6).alias("alloc_share"),
            F.floor(F.lit(float(NEYMAN_BUDGET)) * w_d / wt_d)
            .cast("int")
            .alias("n_alloc"),
        )
        .orderBy("stratum")
    )


QUERIES["sample_neyman_allocation"] = sample_neyman_allocation

ORACLE["sample_neyman_allocation"] = (
    "WITH per AS (SELECT source AS stratum, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(n_chars) AS BIGINT) AS s1, "
    "CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2 "
    "FROM documents GROUP BY 1), "
    "m AS (SELECT stratum, n, s1, "
    "CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2e "
    "FROM per), "
    "w AS (SELECT stratum, n, s1, "
    "ROUND(sqrt(CAST(m2e AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS sd_chars, "
    "CAST(ROUND(CAST(n AS DOUBLE) * (sqrt(CAST(m2e AS DOUBLE)) "
    "/ CAST(n AS DOUBLE)) * 10000.0) AS BIGINT) AS w_s FROM m), "
    "t AS (SELECT CAST(SUM(w_s) AS BIGINT) AS w_tot FROM w) "
    "SELECT stratum, n AS n_docs, "
    "ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_chars, "
    "sd_chars, "
    "ROUND(CAST(w_s AS DOUBLE) / CAST(w_tot AS DOUBLE), 6) AS alloc_share, "
    f"CAST(FLOOR({float(NEYMAN_BUDGET)} * CAST(w_s AS DOUBLE) "
    "/ CAST(w_tot AS DOUBLE)) AS INT) AS n_alloc "
    "FROM w, t ORDER BY stratum"
)


# --- Half-sample bootstrap confidence interval --------------------------------

HS_B = 32  # replicates


def agg_halfsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Deterministic resampling inference**: a 95% CI for the mean
    order price by half-sample replication (the random-group /
    balanced-half-sample method of survey statistics — McCarthy 1969;
    the subsampling special case of the m-out-of-n bootstrap, Politis &
    Romano 1994): B=32 replicates, each keeping the rows whose
    PORTABLE hash md5('hs<r>:<key>') is even — a deterministic,
    engine-identical stand-in for random resampling, the
    `sample_by_key_mod` philosophy applied to inference. SE of the
    full-sample mean = sd(replicate means)/√2 (a half-sample mean has
    twice the variance of the full mean).

    Determinism: per-replicate sums/counts are exact scaled ints; each
    replicate mean quantizes to ×1e6 ties-away int64, so the
    across-replicate moment algebra (M2 = B·Σm² − (Σm)², DECIMAL(38,0)
    ≡ HUGEINT) is exact; one sqrt and fixed-shape arithmetic out.

    Scale: ONE pass over orders exploded ×B (each row hashed B times —
    the documented cost of replication; B is a constant), map-side
    combinable per-replicate partials, then a 32-row frame. No
    `df.sample`, no RNG state, reproducible on any cluster layout."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        dround(F.col("o_totalprice") * F.lit(10_000.0), 0)
        .cast("long")
        .alias("v"),
    )
    full = orders.agg(
        F.sum("v").alias("s_all"), F.count(F.lit(1)).alias("n_all")
    )
    member = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("hs"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("o_orderkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    rep = (
        orders.select(
            "o_orderkey",
            "v",
            F.explode(F.sequence(F.lit(0), F.lit(HS_B - 1))).alias("r"),
        )
        .filter(member)
        .groupBy("r")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    means = rep.select(
        dround(
            F.col("s").cast("double")
            / (F.col("n").cast("double") * F.lit(10_000.0))
            * F.lit(1_000_000.0),
            0,
        )
        .cast("long")
        .alias("mq")
    )
    stats = means.agg(
        F.count(F.lit(1)).alias("b"),
        F.sum("mq").alias("sm"),
        F.sum(F.col("mq").cast("decimal(38,0)") * F.col("mq")).alias(
            "sm2"
        ),
    )
    m2 = (
        F.col("b").cast("decimal(38,0)") * F.col("sm2")
        - F.col("sm").cast("decimal(38,0)") * F.col("sm")
    )
    b_d = F.col("b").cast("double")
    se = F.sqrt(m2.cast("double")) / (
        b_d * F.lit(1_000_000.0) * F.sqrt(F.lit(2.0))
    )
    mean = F.col("s_all").cast("double") / (
        F.col("n_all").cast("double") * F.lit(10_000.0)
    )
    return full.crossJoin(F.broadcast(stats)).select(
        F.col("n_all").cast("long").alias("n_orders"),
        F.col("b").cast("int").alias("n_replicates"),
        dround(mean, 4).alias("mean_price"),
        dround(se, 6).alias("se_mean"),
        dround(mean - F.lit(1.96) * se, 4).alias("ci_lo"),
        dround(mean + F.lit(1.96) * se, 4).alias("ci_hi"),
    )


QUERIES["agg_halfsample_ci"] = agg_halfsample_ci

ORACLE["agg_halfsample_ci"] = (
    "WITH o AS (SELECT o_orderkey, "
    "CAST(ROUND(o_totalprice * 10000.0) AS BIGINT) AS v FROM orders), "
    "full_s AS (SELECT CAST(SUM(v) AS BIGINT) AS s_all, "
    "CAST(COUNT(*) AS BIGINT) AS n_all FROM o), "
    f"rep AS (SELECT r, CAST(SUM(v) AS BIGINT) AS s, "
    "CAST(COUNT(*) AS BIGINT) AS n "
    f"FROM o, UNNEST(range(0, {HS_B})) AS u(r) "
    "WHERE CAST(('0x' || substr(md5('hs' || CAST(r AS VARCHAR) || ':' "
    "|| CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 "
    "GROUP BY 1), "
    "means AS (SELECT CAST(ROUND(CAST(s AS DOUBLE) "
    "/ (CAST(n AS DOUBLE) * 10000.0) * 1000000.0) AS BIGINT) AS mq "
    "FROM rep), "
    "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS b, "
    "CAST(SUM(mq) AS BIGINT) AS sm, "
    "CAST(SUM(CAST(mq AS HUGEINT) * mq) AS HUGEINT) AS sm2 FROM means) "
    "SELECT n_all AS n_orders, CAST(b AS INT) AS n_replicates, "
    "ROUND(CAST(s_all AS DOUBLE) / (CAST(n_all AS DOUBLE) * 10000.0), 4) "
    "AS mean_price, "
    "ROUND(sqrt(CAST(CAST(b AS HUGEINT) * sm2 "
    "- CAST(sm AS HUGEINT) * sm AS DOUBLE)) "
    "/ (CAST(b AS DOUBLE) * 1000000.0 * sqrt(2.0)), 6) AS se_mean, "
    "ROUND(CAST(s_all AS DOUBLE) / (CAST(n_all AS DOUBLE) * 10000.0) "
    "- 1.96 * (sqrt(CAST(CAST(b AS HUGEINT) * sm2 "
    "- CAST(sm AS HUGEINT) * sm AS DOUBLE)) "
    "/ (CAST(b AS DOUBLE) * 1000000.0 * sqrt(2.0))), 4) AS ci_lo, "
    "ROUND(CAST(s_all AS DOUBLE) / (CAST(n_all AS DOUBLE) * 10000.0) "
    "+ 1.96 * (sqrt(CAST(CAST(b AS HUGEINT) * sm2 "
    "- CAST(sm AS HUGEINT) * sm AS DOUBLE)) "
    "/ (CAST(b AS DOUBLE) * 1000000.0 * sqrt(2.0))), 4) AS ci_hi "
    "FROM full_s, st"
)


# --- Deterministic class-balanced downsample ----------------------------------------


def sample_balanced_class_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **class-balanced downsampling** of the labelled
    embedding corpus: every label keeps exactly n_min rows (the
    smallest class's size), selected by the PORTABLE md5 order — the
    classifier-training preprocessing step that prevents majority-class
    domination (the class-label counterpart of
    `sample_quantile_threshold_cut`'s score-based cut).

    Determinism: selection rank is ROW_NUMBER over (md5('bal:'||vec_id),
    vec_id) per label — the `agg_halfsample_ci` hash device: no RNG
    state, reproducible on any cluster layout, and the hex-string
    comparison is identical in both engines. n_min is an exact MIN over
    the per-label counts, broadcast back.

    Scale: one count aggregate + one per-label rank window (label is
    the partition key) + the broadcast threshold filter — no global
    sort, no shuffle of the vector payloads (ids select; vectors stay
    put for the downstream trainer)."""
    from pyspark.sql.window import Window

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        F.md5(
            F.concat(F.lit("bal:"), F.col("vec_id").cast("string"))
        ).alias("h"),
    )
    nmin = (
        base.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("n_min"))
    )
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    ranked = base.withColumn("rn", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(nmin))
        .filter(F.col("rn") <= F.col("n_min"))
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("rn").cast("int").alias("pick_rank"),
        )
        .orderBy("label", "vec_id")
    )


QUERIES["sample_balanced_class_downsample"] = sample_balanced_class_downsample

ORACLE["sample_balanced_class_downsample"] = (
    "WITH b AS (SELECT vec_id, label, "
    "md5('bal:' || CAST(vec_id AS VARCHAR)) AS h FROM embeddings), "
    "nm AS (SELECT CAST(MIN(cnt) AS BIGINT) AS n_min FROM ("
    "SELECT label, COUNT(*) AS cnt FROM b GROUP BY 1)), "
    "r AS (SELECT vec_id, label, "
    "ROW_NUMBER() OVER (PARTITION BY label ORDER BY h, vec_id) AS rn "
    "FROM b) "
    "SELECT CAST(label AS INT) AS label, CAST(vec_id AS BIGINT) AS vec_id, "
    "CAST(rn AS INT) AS pick_rank "
    "FROM r, nm WHERE rn <= n_min ORDER BY label, vec_id"
)
