"""Deduplication operators for LLM data pipelines (SURVEY §2.10 X10/X11 +
north-star: exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding-cosine).

Scale design, since dedup is THE shuffle-heavy stage of a 100 TB pipeline:

- **exact** (X10): hash-aggregate on a normalized key — one shuffle, the
  keeper chosen with ``min`` (no window needed).
- **n-gram Jaccard**: candidate pairs come from an equi-join on shared
  shingles (inverted-index blocking) — never an all-pairs cross join. The
  intersection count falls out of the join's groupBy; union sizes join in
  from a per-doc aggregate.
- **MinHash-LSH** (X11): each shingle string is hashed ONCE to an 8-byte
  value with ``xxhash64``, and the 32 permutations are derived by
  re-hashing that fixed-width value with 32 seeds (all JVM expressions,
  no Python; same min-wise family quality, ~3x less hashing than 32
  string hashes per shingle). Banded 8x4; candidates = equi-join on
  (band, band-signature) buckets; then exact-Jaccard verification of the
  candidate set only. This is the sub-quadratic scale path: cost is
  O(docs x shingles) + O(candidate pairs), not O(docs²).
- **SimHash**: 64-bit signature from sign-sums of token-hash bits; blocking
  on 16-bit chunks (any chunk equal → candidate, catches all pairs within
  Hamming distance 3 by pigeonhole over 4 chunks... within distance 3 at
  least one chunk is untouched); verify with ``bit_count(xor)``.
- **embedding-cosine**: random-hyperplane (sign-bit) LSH candidates via
  banded equi-join, exact-cosine verify — sub-quadratic like MinHash; the
  all-pairs block-GEMM twin stays registered as oracle-exact ground
  truth, and the ANN top-k path lives in ``similarity.py``.

MinHash/SimHash signatures depend on Spark's xxhash64 — not reproducible in
DuckDB, so those two are rows-only checks; their *verification* metric
(exact Jaccard / Hamming) is the oracle-checked quantity in the
``dedup_ngram_jaccard`` twin, and tests assert LSH recall against it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import dround
from ..functions.pairgen import posting_pairs, symmetrize
from ..functions.ranks import top_k
from ..functions.vectors import cosine_from_norms, cosine_sql, l2_norm
from ..io import read_table

JACCARD_THRESHOLD = 0.8
MINHASH_PERMS = 32

# rounds the most recent dedup_clusters call needed to converge —
# diagnostic only, read by scripts/measure_dedup_scale.py for SCALE.md
LAST_CLUSTER_ROUNDS = 0
LSH_BANDS = 8
LSH_ROWS = 4  # MINHASH_PERMS / LSH_BANDS
PLANT_OFFSET = 1_000_000  # planted-copy id space, disjoint from real ids
PLANT_MOD = 5             # every 5th row gets an exact-duplicate copy


def _shingle_array(n: int = 3):
    """Distinct word n-gram shingle ARRAY expression over the ``text``
    column (pure array expressions; the guard keeps ANSI element_at
    safe on short docs).

    The 31-word fixture vocabulary makes single tokens useless for
    similarity (every doc shares most of them); 3-gram shingles give a
    ~30k-ary space where sharing implies real overlap.
    """
    toks = F.split(F.col("text"), " ")
    # zip_with over n shifted slices instead of per-position element_at:
    # each slice is one array copy and each zip one linear pass, vs
    # ~n x positions random element_at calls + per-position varargs
    # concat_ws allocation (round 12: 5.0 s -> measured faster on the
    # 30x docs corpus; this expression is the hot loop of the whole
    # shingle family). Strings produced are identical.
    m = F.size(toks) - (n - 1)
    sl = [F.slice(toks, k + 1, m) for k in range(n)]
    zipped = sl[0]
    for k in range(1, n):
        zipped = F.zip_with(
            zipped, sl[k], lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(
        F.size(toks) >= n, F.array_distinct(zipped)
    ).otherwise(F.array().cast("array<string>"))


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, exploded to
    (doc_id, shingle) rows — see :func:`_shingle_array`."""
    return df.select("doc_id", F.explode(_shingle_array(n)).alias("shingle"))


_SHINGLE_SQL = (
    "SELECT DISTINCT doc_id, tokens[i] || ' ' || tokens[i+1] || ' ' || "
    "tokens[i+2] AS shingle FROM "
    "(SELECT doc_id, string_split(text, ' ') AS tokens FROM documents), "
    "UNNEST(range(1, greatest(len(tokens) - 1, 1))) AS t(i)"
)

# shared oracle prefix for the cluster-label queries: shingles → Jaccard
# pair graph → recursive transitive closure → min label per doc. Both
# dedup_clusters and dedup_cluster_size_histogram compose on `lab` so the
# threshold/shingle/label rules live in exactly one place.
_CLUSTER_LABELS_SQL = (
    f"WITH RECURSIVE sh AS ({_SHINGLE_SQL}), "
    "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i "
    "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "p AS (SELECT doc_a, doc_b FROM inter "
    "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b "
    f"WHERE i / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}), "
    "e AS (SELECT doc_a AS src, doc_b AS dst FROM p "
    "UNION ALL SELECT doc_b, doc_a FROM p), "
    "reach(src, lbl) AS ("
    "SELECT doc_id, doc_id FROM documents "
    "UNION "
    "SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.src), "
    "lab AS (SELECT src AS doc_id, MIN(lbl) AS cluster_id "
    "FROM reach GROUP BY src)"
)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 — exact dedup on normalized text: one hash aggregate; keeper =
    min doc_id per group (no window, no sort)."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select(F.col("doc_id"), norm.alias("norm_text"))
        .groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_doc_id", "n_copies")
    )


def _spread_if_narrow(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a NARROW input up to the session's parallelism — the
    small-file mitigation for the shingle pipeline.

    The fixture tables are single-row-group parquet files, so their scans
    are 1 task regardless of input splits, and AQE then coalesces the
    small downstream shuffles back to 1 partition — the whole
    shingle-explode + inverted-index join runs single-threaded (measured
    3x slower than spread at 3x docs). The partition-count probe is
    metadata-only (no job); at production scale inputs arrive in many
    partitions and this is a no-op, so no extra shuffle is ever added to
    a big pipeline. An explicit repartition also resists AQE's
    small-shuffle coalescing for the stage it feeds."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < target:
        return df.repartition(target, *cols) if cols else df.repartition(target)
    return df


def _jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Shared-shingle blocking → exact Jaccard per candidate pair, as a
    SINGLE pass over the exploded shingles (round-12 rewrite).

    The previous shape — shingle self-join plus a separate sizes
    aggregate joined back onto the 30M-row pair stream — referenced the
    expensive explode subtree from THREE consumers (CLAUDE.md rule 5:
    Spark shares no subtrees across exchanges, so the 5 s explode ran
    3x at 30x docs) and shuffled the pair stream twice more for the
    size joins (measured 27 s at 30x docs). Now:

    - the per-doc shingle COUNT rides each exploded row (computed from
      the array before explode — no separate sizes relation, no joins),
    - candidates come from posting-list pair generation: group by
      shingle, sort the (doc_id, n) list, emit i<j combinations with
      an array transform — fan-out is bounded by the posting-list
      length (fixture max 25; a stop-shingle cap would bound it at
      100 TB) and doc_a < doc_b holds by construction,
    - ONE explode execution, ONE shuffle by shingle, ONE pair-count
      shuffle with map-side partial aggregation. Measured 27 s → ~8 s
      at 30x docs; identical pairs and Jaccard values (same oracle).

    The docs spread still parallelizes the explode on narrow inputs."""
    return _pair_counts(docs).select(
        "doc_a",
        "doc_b",
        (
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )


def _pair_counts(docs: DataFrame) -> DataFrame:
    """Shared-shingle candidate pairs with intersection and per-doc set
    sizes: ``(doc_a, doc_b, n_inter, n_a, n_b)``, doc_a < doc_b — the
    common core of every set-overlap measure (Jaccard, containment).

    Single pass over the exploded shingles: group by shingle, sort the
    posting list, emit i<j combinations with an array transform
    (fan-out bounded by posting-list length; fixture max 25 — a
    stop-shingle cap would bound it at 100 TB), count per pair with
    map-side partial aggregation. Per-doc sizes probe as BROADCASTS
    built straight off the shingle-ARRAY expression (doc-count-sized;
    no explode, no shuffle). The pre-round-12 shape — shingle
    self-join + two shuffle joins against a sizes aggregate — ran the
    explode subtree three times (CLAUDE.md rule 5) and shuffled the
    30M-row pair stream twice more: measured 27 s -> 9.3 s at 30x
    docs for the Jaccard consumer."""
    spread = _spread_if_narrow(docs)
    sh = _shingles(spread)
    posting = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    # codegen'd Generate-chain pairgen (round 16) — identical i<j
    # multiset, no interpreted HOF lambdas (see functions/pairgen.py)
    pairs = posting_pairs(posting, "ds", "doc_a", "doc_b")
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    sizes = spread.select(
        "doc_id", F.size(_shingle_array()).alias("n")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return inter.join(F.broadcast(sa), "doc_a").join(
        F.broadcast(sb), "doc_b"
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — near-dup pairs by exact 3-gram Jaccard ≥ 0.8, candidates
    from the shared-shingle inverted index (no cross join)."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(docs)
    return pairs.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def _minhash_pairs(docs: DataFrame) -> DataFrame:
    """Shared production MinHash-LSH pipeline (signature → banding →
    candidate join → exact-Jaccard verify → threshold), parameterized on
    the input corpus so :func:`dedup_minhash_near` (natural corpus,
    rows-only) and :func:`dedup_minhash_planted` (deterministic planted
    copies, hash-checked) drive the IDENTICAL code path."""
    # spread the narrow fixture scan so the shingle explode + signature
    # build parallelize (see _spread_if_narrow; no-op on wide inputs)
    sh = _shingles(_spread_if_narrow(docs))
    # hash the variable-length shingle string ONCE to a long, then derive
    # the 32 permutations by hashing the fixed 8-byte value — same
    # min-wise family quality, ~3x less hashing work than 32 string
    # hashes per shingle (signature build is this operator's hot loop)
    shh = sh.select("doc_id", F.xxhash64("shingle").alias("sh0"))
    sig = shh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("sh0"), F.lit(i))).alias(f"h{i}")
            for i in range(MINHASH_PERMS)
        ]
    )
    # one EXPLODE of a per-band struct array instead of an 8-branch
    # union (which re-ran the 32-min signature aggregate once per
    # branch, and the banding self-join doubled that — 16 executions;
    # same rule-5 rewrite as the SimHash banding), then per-bucket
    # posting-list combinations generate the candidate pairs with the
    # signature pipeline executing exactly ONCE
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"h{band * LSH_ROWS + r}")
                        for r in range(LSH_ROWS)
                    ]
                ).alias("band_sig"),
            )
            for band in range(LSH_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id", F.explode(band_structs).alias("bs")
    ).select("doc_id", "bs.band", "bs.band_sig")
    posting = bands.groupBy("band", "band_sig").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    cands = (
        posting_pairs(posting, "ds", "doc_a", "doc_b")
        .distinct()
    )
    # verify ONLY the candidate pairs, and consume `cands` exactly once —
    # a subtree referenced from two places (e.g. a broadcast doc-filter
    # plus a semi-join) re-executes the whole MinHash aggregation per
    # reference (broadcast exchanges don't share with shuffle exchanges;
    # measured 3x slower). One broadcast of the tiny pair set against the
    # cheap scan-side shingle table keeps the signature pipeline single-
    # execution: pairs ⋈ shingles(doc_a) ⋈ shingles(doc_b on shingle) →
    # intersection counts.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sha.join(F.broadcast(cands), "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    verified = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 — MinHash-LSH near-dedup, fully JVM-side:

    signature: each shingle hashed once to ``sh0 = xxhash64(shingle)``,
    then min over shingles of ``xxhash64(sh0, seed_i)`` for 32 seeds →
    banded into 8 signatures of 4 rows → candidates share any band
    bucket → verified with exact Jaccard computed over the CANDIDATE DOCS
    ONLY (semi-join restriction of the shingle table before the
    intersection join). Verifying against the full inverted-index pair
    table would re-pay the O(shared-shingle-pairs) cost MinHash exists to
    avoid — with B bands of R rows the candidate set is ~n²·(1-(1-j^R)^B)
    pairs and the verify stage now scales with THAT, not with the corpus.
    Rows-only check (hash seeds are engine-specific); tests assert recall
    vs ``dedup_ngram_jaccard``, and :func:`dedup_minhash_planted` is the
    hash-checked harness for this exact pipeline.
    """
    return _minhash_pairs(read_table(spark, sf_dir, "documents"))


def dedup_minhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked harness for the PRODUCTION MinHash pipeline (round-10
    completion of the planted-harness family: embeddings got theirs in
    round 8, SimHash in round 9): the corpus is augmented with
    deterministic EXACT text copies (every ``PLANT_MOD``-th doc
    re-inserted at ``doc_id + PLANT_OFFSET``) and run through the
    identical shingle → 32-perm signature → 8×4 banding → exact-Jaccard
    verify pipeline. An exact copy has an identical distinct-shingle set,
    hence a bit-identical MinHash signature — it collides in EVERY band
    and verifies at Jaccard exactly 1.0, so recall on the planted pairs
    is 1 by construction and the DuckDB oracle can state the expected
    output in closed form (every planted doc that has ≥1 shingle). The
    output is restricted to the (source, copy) pairs because natural
    near-dup candidates depend on the engine's hash bits (why
    :func:`dedup_minhash_near` is rows-only); a planted pair the pipeline
    dropped would be ABSENT here and fail the hash check."""
    return _planted_text_pairs(spark, sf_dir, _minhash_pairs)


def _with_planted_copies(df: DataFrame, id_col: str) -> DataFrame:
    """``df`` plus an exact copy of every ``PLANT_MOD``-th row re-inserted
    at ``id + PLANT_OFFSET`` — the corpus of every planted harness."""
    ident = F.col(id_col)
    copies = df.filter(ident % PLANT_MOD == 0).withColumn(
        id_col, ident + PLANT_OFFSET
    )
    return df.unionByName(copies)


def _planted_text_pairs(
    spark: SparkSession, sf_dir: str, pairs_fn: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Run a documents pair pipeline (``pairs_fn``: docs → (doc_a, doc_b,
    ...)) over the planted corpus and keep only the (source, copy) pairs:
    every one must be found, and the natural near-dups the engine's hash
    bits decide are left out."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = pairs_fn(_with_planted_copies(docs, "doc_id"))
    return pairs.filter(
        (F.col("doc_b") == F.col("doc_a") + PLANT_OFFSET)
        & (F.col("doc_a") % PLANT_MOD == 0)
        & (F.col("doc_a") < PLANT_OFFSET)
    ).orderBy("doc_a")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — SimHash near-dedup: 64-bit sign-sum signature over
    token hashes (weighted by term frequency), banded-chunk blocking,
    Hamming ≤ 6 verification via ``bit_count(xor)``. Rows-only check
    (which natural pairs land within Hamming 6 depends on the engine's
    hash bits); the pipeline's hash-checked harness is
    :func:`dedup_simhash_planted`."""
    return _simhash_pairs(read_table(spark, sf_dir, "documents"))


def _simhash_pairs(docs: DataFrame) -> DataFrame:
    """The full SimHash pipeline (signature → pigeonhole banding →
    candidate equi-join → Hamming verify) over any documents frame."""
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("th", F.xxhash64("token"))
    )
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(F.col("th"), i).bitwiseAND(F.lit(1))
                    == 1,
                    F.col("cnt"),
                ).otherwise(-F.col("cnt"))
            ).alias(f"s{i}")
            for i in range(64)
        ]
    )
    simhash = None
    for i in range(64):
        bit = F.when(F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        simhash = bit if simhash is None else simhash.bitwiseOR(bit)
    sigs = bit_sums.select("doc_id", simhash.alias("simhash"))
    # 7 chunks (widths 10,9,9,9,9,9,9 = 64 bits): by pigeonhole, any pair
    # within Hamming distance 6 leaves at least one chunk untouched →
    # guaranteed recall for the <= 6 verification below. 7 chunks is the
    # minimum for that bound, and the >= 9-bit buckets keep the candidate
    # self-join ~N²/2^9 per band instead of the near-quadratic blowup an
    # 8-bit-bucket scheme gives at corpus scale.
    widths = [10, 9, 9, 9, 9, 9, 9]
    offsets = [sum(widths[:i]) for i in range(len(widths))]
    # one EXPLODE of a 7-struct array instead of a 7-part union of
    # projections: a union consumes the signature subtree (token
    # explode + two shuffles + the 64-way conditional aggregate) once
    # PER BRANCH, and the candidate self-join then doubled the whole
    # stack again — 14 executions total (rule 5; measured 41.7 s at 30x
    # docs). Candidates come from per-bucket posting-list combinations
    # (same device as _pair_counts), so the signature pipeline now
    # executes exactly once: 41.7 -> ~8 s.
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << wd) - 1))
                .alias("chunk_val"),
            )
            for c, (off, wd) in enumerate(zip(offsets, widths))
        ]
    )
    chunks = sigs.select(
        "doc_id", "simhash", F.explode(chunk_structs).alias("ch")
    ).select("doc_id", "simhash", "ch.chunk", "ch.chunk_val")
    posting = chunks.groupBy("chunk", "chunk_val").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
            "ds"
        )
    )
    cands = (
        posting_pairs(posting, "ds", "xa", "yb")
        .select(
            F.col("xa.doc_id").alias("doc_a"),
            F.col("yb.doc_id").alias("doc_b"),
            F.col("xa.simhash").alias("sh_a"),
            F.col("yb.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= 6)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def dedup_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked harness for the PRODUCTION SimHash pipeline (round-9
    companion to the embeddings' :func:`dedup_embedding_prod_planted`):
    the corpus is augmented with deterministic EXACT text copies (every
    ``PLANT_MOD``-th doc re-inserted at ``doc_id + PLANT_OFFSET``) and run
    through the identical signature → 7-chunk pigeonhole banding →
    Hamming ≤ 6 verify pipeline. An exact copy has a bit-identical
    signature (token multiset equality), so it collides in EVERY chunk
    and lands at Hamming 0 — recall on the planted pairs is 1 by
    construction. The output is restricted to the (source, copy) pairs
    because the natural corpus DOES contain near-dups whose Hamming
    distances depend on the engine's hash bits (that is exactly why
    :func:`dedup_simhash` is rows-only); a planted pair the pipeline
    missed would be ABSENT here and fail the hash check, so the
    restriction hides engine-specific extras, never a recall failure."""
    return _planted_text_pairs(spark, sf_dir, _simhash_pairs)


RHP_PLANES = 96  # sign projections; every banding geometry re-slices these
RHP_BANDS = 24   # demo geometry: recall 1.0 at the low 0.45 threshold
RHP_ROWS = 4
RHP_BANDS_PROD = 12  # production geometry: 5.3% candidate fraction at the
RHP_ROWS_PROD = 8    # SemDeDup-style cosine >= 0.85 regime (SCALE.md)
COSINE_THRESHOLD = 0.45
COSINE_THRESHOLD_PROD = 0.85


def _rhp_bits(e: Column) -> Column:
    """Random-hyperplane sign bits (array<int> of length RHP_PLANES).

    Hyperplane p is a Rademacher ±1 vector whose d-th entry is the parity
    of ``xxhash64(p * 1009 + d)`` — deterministic, JVM-side, no Python and
    no literal weight tables, and independent of the embedding dimension.
    Sign-random ±1 projections are a standard substitute for Gaussian
    hyperplanes in SimHash-style cosine LSH (Achlioptas sparse/signed
    projections), and keep the whole signature inside codegen.
    """
    idx = F.sequence(F.lit(0), F.size(e) - 1)

    def proj(p: Column) -> Column:
        prods = F.zip_with(
            e,
            idx,
            lambda x, d: x.cast("double")
            * F.when(
                F.pmod(F.xxhash64(p * F.lit(1009) + d), F.lit(2)) == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)

    return F.transform(
        F.sequence(F.lit(0), F.lit(RHP_PLANES - 1)),
        lambda p: (proj(p) > 0).cast("int"),
    )


def embedding_lsh_pairs(
    emb: DataFrame, bands: int, rows: int, threshold: float
) -> DataFrame:
    """Banded random-hyperplane LSH near-dup pairs over an embedding frame
    ``(vec_id, embedding, nrm)`` — the shared core of the demo- and
    production-geometry operators:

    1. per vector, ``RHP_PLANES`` random-hyperplane sign bits (one O(k·d)
       pass, pure codegen — see :func:`_rhp_bits`);
    2. band the bits ``bands x rows`` → one (band, band_sig) row per band
       per vector;
    3. candidates = posting-list pair explode from the (band, band_sig)
       buckets (round 15 — one groupBy instead of a signature-subtree
       self-join); never an all-pairs theta join; bucket sizes are
       ~n/2^rows per band, so the candidate stage is O(sum of bucket²
       per band), not O(n²);
    4. verify candidates with the exact one-dot-product cosine
       (:func:`cosine_from_norms`) on the ROUNDED value.

    Emitted pairs are exactly correct (precision 1.0); banding bounds
    recall at 1-(1-p^rows)^bands with p = 1 - θ/π. Candidate VOLUME is
    set by the geometry alone — the verify threshold only filters after.
    """
    assert bands * rows == RHP_PLANES, "banding must re-slice RHP_PLANES"
    bits = emb.select("vec_id", _rhp_bits(F.col("embedding")).alias("bits"))

    def band_sig(b: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(rows - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc * 2
            + F.element_at(F.col("bits"), b * F.lit(rows) + j + 1),
        )

    sigs = bits.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"), band_sig(b).alias("band_sig")
                ),
            )
        ).alias("bb"),
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig"))
    # posting-list pair generation from the band buckets (round 15;
    # CLAUDE.md rule 5 corollary a): the previous (band, band_sig)
    # self-join consumed the 96-plane signature subtree TWICE and
    # shuffled it twice. One groupBy materializes each bucket once —
    # the projection runs ONCE per vector — and the i<j pairs explode
    # from the sorted id list (ids are unique within a bucket, so
    # strict i<j reproduces the join's vec_a < vec_b pair set exactly).
    # Two-level posexplode, NOT the flatten device of the shingle
    # postings: a demo-geometry bucket holds ~n/2^rows ids, so a
    # flattened combination array would put O(bucket²) structs in ONE
    # row; posexplode + slice keeps every generated array O(bucket).
    buckets = sigs.groupBy("band", "band_sig").agg(
        F.sort_array(F.collect_list("vec_id")).alias("vs")
    )
    ex = buckets.select(
        "vs", F.posexplode(F.col("vs")).alias("i", "vec_a")
    )
    cands = (
        ex.select(
            "vec_a",
            F.explode(
                F.slice(
                    F.col("vs"), F.col("i") + F.lit(2), F.size(F.col("vs"))
                )
            ).alias("vec_b"),
        )
        .distinct()
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")),
        6,
    )
    return (
        cands.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — near-dup by embedding cosine ≥ 0.45, sub-quadratic
    (see :func:`embedding_lsh_pairs` for the plan shape).

    24x4 bands give per-pair collision ≥ 1-(1-p^4)^24 ≈ 0.993 at the
    0.45 threshold's θ ≈ 63° (→ 1 rapidly for truer near-dups; measured
    recall 1.0 on both fixtures vs the oracle-exact all-pairs twin
    :func:`dedup_embedding_cosine_gemm`, test-only since round 5).
    Engine-specific hash bits → rows-only in the registry.

    The 24x4 demo geometry collides random pairs with prob ≈ 0.79 — the
    price of recall 1.0 at this deliberately-low threshold on uniform
    fixture vectors; the production-threshold twin
    :func:`dedup_embedding_cosine_prod` measures 5.3% on the same sf0.1
    data (``scripts/measure_dedup_scale.py``; analysis in SCALE.md)."""
    return embedding_lsh_pairs(
        _emb_with_norm(spark, sf_dir), RHP_BANDS, RHP_ROWS, COSINE_THRESHOLD
    )


def dedup_embedding_cosine_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-geometry embedding near-dup: cosine ≥ 0.85 (the
    SemDeDup-style semantic-dedup regime) with 12x8 banding.

    Same plan shape as :func:`dedup_embedding_cosine`; the geometry is
    the scale knob: 8-row bands collide a random pair with prob 0.5^8
    per band → measured candidate fraction 5.3% of all-pairs at sf0.1
    (vs 77% for the 24x4 demo geometry — SCALE.md), while a true
    near-dup at cosine 0.9 (p = 1-θ/π ≈ 0.857) still collides with prob
    1-(1-0.857^8)^12 ≈ 0.98. Recall is asserted ≥ 0.95 on planted
    perturbed near-dups in ``tests/test_dedup_similarity.py`` (the
    fixture's uniform vectors have no natural pairs at 0.85).
    Engine-specific hash bits → rows-only in the registry."""
    return embedding_lsh_pairs(
        _emb_with_norm(spark, sf_dir),
        RHP_BANDS_PROD,
        RHP_ROWS_PROD,
        COSINE_THRESHOLD_PROD,
    )


def dedup_embedding_prod_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked correctness harness for the PRODUCTION LSH geometry:
    the embeddings corpus is augmented with deterministic EXACT-duplicate
    copies (every ``PLANT_MOD``-th vector re-inserted at
    ``vec_id + PLANT_OFFSET``), then run through the identical 12x8-band
    cosine>=0.85 pipeline as :func:`dedup_embedding_cosine_prod`.

    An exact copy shares every hyperplane sign bit with its source, so it
    collides in ALL bands — recall on the planted pairs is 1 by
    construction, which makes the full pipeline (signature, banding,
    candidate equi-join, exact verify) deterministic and DuckDB-checkable:
    the oracle computes the exact all-pairs cosine over the same augmented
    set (the fixture's natural max pairwise cosine is ~0.51, far below the
    0.85 threshold, so both engines emit exactly the planted pairs). This
    is the oracle evidence for the rows-only natural-corpus twin, whose
    own output hash stays engine-specific only in the sense that banding
    recall <1 WOULD matter if near-threshold natural pairs existed."""
    return embedding_lsh_pairs(
        _with_planted_copies(_emb_with_norm(spark, sf_dir), "vec_id"),
        RHP_BANDS_PROD,
        RHP_ROWS_PROD,
        COSINE_THRESHOLD_PROD,
    ).orderBy("vec_a", "vec_b")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — near-dup CLUSTER formation: connected components over
    the Jaccard pair graph, so each duplicate group keeps exactly one
    representative (cluster_id = min doc_id in the component).

    Algorithm: `graph.min_label_components` (the device
    `graph_connected_components` shares) over both directions of the
    Jaccard pair edges; near-dup components are tiny, 1-3 rounds. Each
    round is one distributed join + aggregate (no collect of the graph).
    Oracle: DuckDB recursive CTE computing the same transitive min label.
    """
    from .graph import min_label_components

    global LAST_CLUSTER_ROUNDS
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    pairs = _jaccard_pairs(
        read_table(spark, sf_dir, "documents")
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    labels, LAST_CLUSTER_ROUNDS = min_label_components(
        symmetrize(pairs, "doc_a", "doc_b", "src", "dst"),
        docs.select("doc_id", F.col("doc_id").alias("cluster_id")),
        rounds=50,  # label propagation needs <= diameter rounds
        name="dedup_clusters",
    )
    return labels


def dedup_cross_corpus_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus NEAR-dup: for each new-crawl document (odd doc_id),
    its near-duplicates in the existing corpus (even doc_id) by exact
    n-gram Jaccard — the fuzzy companion of
    :func:`dedup_incremental_new_docs` (which only catches byte-identical
    recrawls). The inverted-index join runs strictly ACROSS sides, so
    within-corpus and within-batch pairs are never generated — candidate
    volume is O(shared shingles across sides), and at 100 TB the corpus
    side's shingle index is the thing you keep materialized between
    crawls instead of recomputing (its construction cost amortizes over
    every incoming batch)."""
    docs = read_table(spark, sf_dir, "documents")
    corpus = _spread_if_narrow(docs.filter(F.col("doc_id") % 2 == 0))
    batch = _spread_if_narrow(docs.filter(F.col("doc_id") % 2 == 1))
    sh_c = _spread_if_narrow(_shingles(corpus), "shingle").select(
        F.col("doc_id").alias("corpus_id"), "shingle"
    )
    sh_b = _spread_if_narrow(_shingles(batch), "shingle").select(
        F.col("doc_id").alias("new_id"), "shingle"
    )
    sz_c = sh_c.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("nc"))
    sz_b = sh_b.groupBy("new_id").agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        sh_b.join(sh_c, "shingle")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("nb") + F.col("nc") - F.col("i"))
    return (
        inter.join(sz_b, "new_id")
        .join(sz_c, "corpus_id")
        # threshold on the UNROUNDED ratio, like every sibling dedup op —
        # rounding first would admit pairs up to 5e-7 below the contract
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            F.col("new_id").alias("new_doc_id"),
            F.col("corpus_id").alias("dup_of_doc_id"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("new_doc_id", "dup_of_doc_id")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative selection: within each near-dup
    cluster keep the LONGEST document (``n_chars`` desc, doc_id tiebreak)
    instead of the arbitrary min-id — the policy real pipelines use so
    dedup doesn't systematically keep truncated variants. One broadcast
    of nothing new: the labels frame joins the documents scan and a
    bounded per-cluster rank window picks the keeper (cluster sizes are
    tiny, so the window partition never skews)."""
    from pyspark.sql.window import Window

    labels = dedup_clusters(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labels.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "keeper_doc_id"
            ),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("cluster_id")
    )


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: for each cluster size, how
    many clusters and how many documents it accounts for — the corpus
    health report read off :func:`dedup_clusters` output (a 10-doc
    cluster deflating to 1 keeper is a very different corpus than five
    2-doc clusters). Two tiny re-aggregations over the label frame; the
    heavy lifting (pair graph + components) is shared with
    ``dedup_clusters`` unchanged."""
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


GEMM_BLOCK = 256


def dedup_embedding_cosine_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-GEMM exact pairwise cosine — the production-scale design for
    the same semantics as :func:`dedup_embedding_cosine`:

    1. bucket vectors into fixed blocks of 256 by id;
    2. build one row per block (collect_list of (id, vec) — ~128 KB);
    3. join block pairs (bi ≤ bj): the candidate set becomes
       O((n/256)²) block rows instead of O(n²) pair rows;
    4. ``mapInPandas``: per block pair, one numpy float64 GEMM
       (256x64 @ 64x256) scores all 65k pair cosines at BLAS speed —
       no per-pair higher-order-function evaluation at all.

    Memory per task is bounded (two blocks + the score tile); tasks are
    independent, so the stage scales linearly with executors. Same
    oracle as the expression-based twin (float64 GEMM vs sequential fold
    differs below the 6-dp rounding).
    """
    import pandas as pd

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.floor(F.col("vec_id") / GEMM_BLOCK).cast("long").alias("blk"),
    )
    blocks = emb.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "embedding")).alias("items")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    block_pairs = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.items").alias("items_a"), F.col("b.items").alias("items_b")
    )

    def gemm(batches):
        import numpy as np

        for pdf in batches:
            outs = []
            for items_a, items_b in zip(pdf["items_a"], pdf["items_b"]):
                ids_a = np.array([r["vec_id"] for r in items_a], dtype=np.int64)
                A = np.array([r["embedding"] for r in items_a], dtype=np.float64)
                ids_b = np.array([r["vec_id"] for r in items_b], dtype=np.int64)
                Bm = np.array([r["embedding"] for r in items_b], dtype=np.float64)
                An = A / np.linalg.norm(A, axis=1, keepdims=True)
                Bn = Bm / np.linalg.norm(Bm, axis=1, keepdims=True)
                C = np.round(An @ Bn.T, 6)
                ia, ib = np.nonzero(C >= 0.45)
                va, vb = ids_a[ia], ids_b[ib]
                keep = va < vb
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": va[keep],
                            "vec_b": vb[keep],
                            "cosine": C[ia, ib][keep],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return block_pairs.mapInPandas(gemm, "vec_a long, vec_b long, cosine double")


def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the continuous-crawl shape: given an
    existing corpus and an incoming batch (modeled as even/odd doc_id
    halves of ``documents``), emit only incoming docs that are (a) not
    already in the corpus by normalized fingerprint (anti join) and (b)
    first-of-their-fingerprint within the batch (min-id keeper).

    Physics: fingerprint both sides (md5 of normalized text — cheap,
    codegen'd), ONE anti join on the 128-bit key, one aggregate for the
    intra-batch keeper. At 100 TB the corpus side is a bucketed/Bloom
    fingerprint index; the join key and semantics are unchanged."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = docs.select("doc_id", F.md5(norm).alias("fp"))
    corpus = fp.filter(F.col("doc_id") % 2 == 0)
    batch = fp.filter(F.col("doc_id") % 2 == 1)
    fresh = batch.join(corpus, "fp", "left_anti")
    return (
        fresh.groupBy("fp")
        .agg(F.min("doc_id").alias("new_doc_id"))
        .select("new_doc_id")
    )


# dedup_embedding_cosine_gemm is deliberately NOT registered: it is the
# exact all-pairs ground truth used by the recall tests
# (tests/test_dedup_similarity.py) and its candidate stage is O((n/256)^2)
# block pairs — correct, bounded-memory, but quadratic in block count. The
# registry carries only the sub-quadratic LSH form (dedup_embedding_cosine)
# so no invocable plan degrades quadratically at 100 TB. (Driver-hashed
# green in CORRECTNESS_r04 while it was registered, so its arithmetic is
# oracle-verified evidence, not just test code.)
# SemDeDup within-cluster cosine threshold. The fixture's natural max
# pairwise cosine is ~0.48 (uniform vectors), so the published 1-eps
# regime (~0.95+) would only ever see the planted pairs; 0.35 keeps a
# band of NATURAL near-neighbors in the output too, exercising the
# witness-selection window on real (non-degenerate) similarities. The
# threshold compares ROUNDED cosines, so membership is engine-portable.
SEMDEDUP_TAU = 0.35


def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **SemDeDup** (Abbas et al. 2023, arXiv:2303.09540):
    semantic deduplication by clustering embeddings with k-means and
    comparing pairs only WITHIN each cluster. This is the published
    recipe for trillion-token corpora: all-pairs cosine is O(n²), but
    k-means partitioning bounds it to Σ|cluster|² ≈ n²/k — pick
    k ∝ n / (target cluster size) and per-cluster work stays constant
    as the corpus grows, with each cluster's pairwise join co-located
    on one shuffle key (no cross-cluster data movement at all).

    Pipeline, all deterministic and hash-checked end to end:
    1. corpus = embeddings + planted exact copies (every ``PLANT_MOD``-th
       vector at ``vec_id + PLANT_OFFSET`` — same device as the other
       planted harnesses: identical vectors MUST share a cluster and
       score cosine 1.0, so recall on them is 1 by construction);
    2. codebook = the deterministic scaled-int64 Lloyd's k-means
       (``similarity._train_kmeans_codebook_exact``, bit-identical
       across engines and partitionings);
    3. cluster assignment = shared rounded-argmax
       (``similarity.assign_to_codebook``);
    4. within-cluster pairs with rounded cosine ≥ ``SEMDEDUP_TAU``;
    5. keep-lowest policy: drop ``b`` iff a lower-id witness ``a`` is
       similar; report the strongest witness (cosine desc, id asc).

    The DuckDB oracle unrolls the identical three Lloyd's iterations
    (``similarity.kmeans_unroll_parts``) and replays steps 3-5 in SQL.

    vs reference: no analogue (the reference has no documents at all) —
    this is the BASELINE.json LLM-pipeline north star; the LSH-banded
    sibling is :func:`dedup_embedding_cosine_prod`."""
    from ..functions.vectors import cosine
    from .similarity import (
        IVF_K,
        KMEANS_ITERS,
        _train_kmeans_codebook_exact,
        assign_to_codebook,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    corpus = _with_planted_copies(emb, "neighbor_id")
    cent = _train_kmeans_codebook_exact(corpus, IVF_K, KMEANS_ITERS)
    # round 15: the within-cluster a ⋈ b self-join consumes `assigned`
    # (training + argmax assignment) TWICE — eager checkpoint cuts the
    # whole pipeline above it to one execution (rule 5 corollary a)
    assigned = assign_to_codebook(corpus, cent).localCheckpoint(eager=True)
    a = assigned.select(
        F.col("neighbor_id").alias("keep_vec"), F.col("ce").alias("ae"), "list_id"
    )
    b = assigned.select(
        F.col("neighbor_id").alias("drop_vec"), F.col("ce").alias("be"), "list_id"
    )
    pairs = (
        a.join(b, "list_id")
        .filter(F.col("keep_vec") < F.col("drop_vec"))
        .select(
            "list_id",
            "keep_vec",
            "drop_vec",
            F.round(cosine(F.col("ae"), F.col("be")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
    )
    return (
        top_k(pairs, "drop_vec", 1, F.col("cosine").desc(), "keep_vec")
        .select(
            "drop_vec",
            F.col("keep_vec").alias("witness_vec"),
            "list_id",
            "cosine",
        )
        .orderBy("drop_vec")
    )


def _semdedup_oracle_sql() -> str:
    """DuckDB twin of :func:`dedup_semantic_kmeans`: augmented corpus →
    unrolled deterministic k-means → rounded-argmax assignment →
    within-cluster pair join → witness window."""
    from .similarity import IVF_K, KMEANS_ITERS, kmeans_unroll_parts

    cos_cc = cosine_sql("ce", "cent_e")
    cos_ab = cosine_sql("a.ce", "b.ce")
    parts = [
        "cand AS (SELECT vec_id AS neighbor_id, embedding AS ce "
        "FROM embeddings "
        f"UNION ALL SELECT vec_id + {PLANT_OFFSET}, embedding "
        f"FROM embeddings WHERE vec_id % {PLANT_MOD} = 0)",
    ]
    unroll, prev = kmeans_unroll_parts(IVF_K, KMEANS_ITERS)
    parts += unroll
    parts += [
        "cs AS (SELECT neighbor_id, ce, cent_id, ROW_NUMBER() OVER ("
        f"PARTITION BY neighbor_id ORDER BY ROUND({cos_cc}, 6) DESC, "
        f"cent_id) AS rn FROM cand CROSS JOIN {prev})",
        "assigned AS (SELECT neighbor_id, ce, cent_id AS list_id FROM cs "
        "WHERE rn = 1)",
        "pairs AS (SELECT a.list_id, a.neighbor_id AS keep_vec, "
        f"b.neighbor_id AS drop_vec, ROUND({cos_ab}, 6) AS cosine "
        "FROM assigned a JOIN assigned b ON a.list_id = b.list_id "
        "AND a.neighbor_id < b.neighbor_id "
        f"WHERE ROUND({cos_ab}, 6) >= {SEMDEDUP_TAU})",
        "r AS (SELECT drop_vec, keep_vec, list_id, cosine, "
        "ROW_NUMBER() OVER (PARTITION BY drop_vec "
        "ORDER BY cosine DESC, keep_vec) AS rn FROM pairs)",
    ]
    return (
        "WITH " + ", ".join(parts)
        + " SELECT drop_vec, keep_vec AS witness_vec, list_id, cosine "
        "FROM r WHERE rn = 1 ORDER BY drop_vec"
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_semantic_kmeans": dedup_semantic_kmeans,
    "dedup_incremental_new_docs": dedup_incremental_new_docs,
    "dedup_clusters": dedup_clusters,
    "dedup_cluster_size_histogram": dedup_cluster_size_histogram,
    "dedup_keep_best": dedup_keep_best,
    "dedup_cross_corpus_jaccard": dedup_cross_corpus_jaccard,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_near": dedup_minhash_near,
    "dedup_minhash_planted": dedup_minhash_planted,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_planted": dedup_simhash_planted,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_cosine_prod": dedup_embedding_cosine_prod,
    "dedup_embedding_prod_planted": dedup_embedding_prod_planted,
}

ORACLE = {
    "dedup_semantic_kmeans": _semdedup_oracle_sql(),
    "dedup_incremental_new_docs": (
        "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), "
        "'\\s+', ' ', 'g')) AS f FROM documents), "
        "corpus AS (SELECT f FROM fp WHERE doc_id % 2 = 0), "
        "batch AS (SELECT doc_id, f FROM fp WHERE doc_id % 2 = 1) "
        "SELECT MIN(doc_id) AS new_doc_id FROM batch b "
        "WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f) "
        "GROUP BY b.f"
    ),
    "dedup_exact": (
        "SELECT MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies FROM ("
        "SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') "
        "AS norm_text FROM documents) GROUP BY norm_text"
    ),
    # exact all-pairs cosine over the planted-duplicate augmented set: at
    # fixture scale the n^2 verify is the oracle (O(360k) dot products in
    # DuckDB); the Spark side must find the same pairs THROUGH the banded
    # LSH pipeline, whose recall on exact copies is 1 by construction
    "dedup_embedding_prod_planted": (
        "WITH aug AS (SELECT vec_id, embedding FROM embeddings "
        "UNION ALL "
        f"SELECT vec_id + {PLANT_OFFSET} AS vec_id, embedding "
        f"FROM embeddings WHERE vec_id % {PLANT_MOD} = 0), "
        "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
        f"ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine "
        "FROM aug a JOIN aug b ON a.vec_id < b.vec_id) "
        f"SELECT vec_a, vec_b, cosine FROM p "
        f"WHERE cosine >= {COSINE_THRESHOLD_PROD} ORDER BY vec_a, vec_b"
    ),
    "dedup_ngram_jaccard": (
        f"WITH sh AS ({_SHINGLE_SQL}), "
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i "
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, "
        "ROUND(i / (sa.n + sb.n - i), 6) AS jaccard "
        "FROM inter JOIN sz sa ON sa.doc_id = doc_a "
        "JOIN sz sb ON sb.doc_id = doc_b "
        f"WHERE i / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}"
    ),
    # dedup_minhash_near, dedup_simhash, dedup_embedding_cosine: rows-only
    # (engine-specific hash bits drive candidate generation); each is
    # recall-tested against its oracle-exact twin.
    # exact-copy planting makes the SimHash pipeline deterministic: a copy
    # collides in every chunk at Hamming 0, so both engines must emit
    # exactly the planted (source, copy) pairs for non-null texts
    "dedup_simhash_planted": (
        "SELECT doc_id AS doc_a, "
        f"doc_id + {PLANT_OFFSET} AS doc_b, "
        "CAST(0 AS INT) AS hamming FROM documents "
        f"WHERE doc_id % {PLANT_MOD} = 0 AND text IS NOT NULL "
        "ORDER BY doc_a"
    ),
    # exact-copy planting makes the MinHash pipeline deterministic the
    # same way: identical distinct-shingle sets → bit-identical 32-perm
    # signatures → collision in every band → exact-Jaccard verify at
    # precisely 1.0. Eligibility = the doc has ≥1 shingle (< 3 tokens or
    # NULL text produce no signature in either engine)
    "dedup_minhash_planted": (
        f"WITH sh AS ({_SHINGLE_SQL}) "
        "SELECT doc_id AS doc_a, "
        f"doc_id + {PLANT_OFFSET} AS doc_b, "
        "CAST(1.0 AS DOUBLE) AS jaccard "
        "FROM (SELECT DISTINCT doc_id FROM sh) "
        f"WHERE doc_id % {PLANT_MOD} = 0 ORDER BY doc_a"
    ),
    "dedup_clusters": (
        f"{_CLUSTER_LABELS_SQL} SELECT doc_id, cluster_id FROM lab"
    ),
    "dedup_cross_corpus_jaccard": (
        f"WITH sh AS ({_SHINGLE_SQL}), "
        "c AS (SELECT doc_id AS corpus_id, shingle FROM sh "
        "WHERE doc_id % 2 = 0), "
        "b AS (SELECT doc_id AS new_id, shingle FROM sh "
        "WHERE doc_id % 2 = 1), "
        "szc AS (SELECT corpus_id, COUNT(*) AS nc FROM c GROUP BY 1), "
        "szb AS (SELECT new_id, COUNT(*) AS nb FROM b GROUP BY 1), "
        "inter AS (SELECT b.new_id, c.corpus_id, COUNT(*) AS i "
        "FROM b JOIN c USING (shingle) GROUP BY 1, 2), "
        "j AS (SELECT new_id AS new_doc_id, corpus_id AS dup_of_doc_id, "
        "ROUND(i / (nb + nc - i), 6) AS jaccard "
        "FROM inter JOIN szb USING (new_id) JOIN szc USING (corpus_id) "
        f"WHERE i / (nb + nc - i) >= {JACCARD_THRESHOLD}) "
        "SELECT * FROM j ORDER BY new_doc_id, dup_of_doc_id"
    ),
    "dedup_keep_best": (
        f"{_CLUSTER_LABELS_SQL}, "
        "m AS (SELECT l.cluster_id, d.doc_id, d.n_chars, "
        "ROW_NUMBER() OVER (PARTITION BY l.cluster_id "
        "ORDER BY d.n_chars DESC, d.doc_id) AS rn "
        "FROM lab l JOIN documents d ON l.doc_id = d.doc_id) "
        "SELECT cluster_id, "
        "MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id, "
        "COUNT(*) AS n_members "
        "FROM m GROUP BY 1 ORDER BY 1"
    ),
    "dedup_cluster_size_histogram": (
        f"{_CLUSTER_LABELS_SQL}, "
        "s AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab "
        "GROUP BY 1) "
        "SELECT cluster_size, COUNT(*) AS n_clusters, "
        "COUNT(*) * cluster_size AS n_docs "
        "FROM s GROUP BY 1 ORDER BY 1"
    ),
}


# --- Exact-substring duplicated spans (Lee et al. 2021) --------------------

SUBSTR_N = 8  # tokens per positional gram (the ExactSubstr length knob)


def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **ExactSubstr** duplicated-span detection (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): flag every position whose ``SUBSTR_N``-token gram recurs
    in ANOTHER document, and report per-doc dup coverage plus the
    longest contiguous duplicated run (the span the paper cuts out).

    Spark-first shape instead of the paper's suffix array: positional
    grams from one array ``transform`` (no Python); cross-doc gram
    incidence and the position flagging fused into ONE gram-keyed
    window pass (round 16): a gram recurs in another document iff
    ``min(doc_id) != max(doc_id)`` over its gram partition — two cheap
    unbounded frames in one WindowExec replace the round-15 shape's
    (gram, doc) distinct + gram aggregate + LEFT SEMI join back, and
    with per-doc totals computed arithmetically from the token count
    (``size(toks) - N + 1``, exactly the gram count) the corpus-sized
    positional-gram explode now has ONE consumer — the eager
    O(positions) localCheckpoint of round 15 is GONE (VERDICT r15
    item 5: no corpus-sized materialization, executor-loss-safe).
    Gaps-and-islands (``pos - row_number``) for contiguous runs rides
    the same doc-keyed exchange. Every shuffle is keyed (gram /
    doc_id); nothing is pairwise, so cost is O(positions) +
    O(duplicated positions), the same bound the suffix-array build
    pays, and the islands aggregates reuse the doc_id exchange.

    Determinism: all-integer counts; the single exposed ratio divides
    by ``n_grams >= 1`` (docs shorter than ``SUBSTR_N`` tokens have no
    gram row in either engine and are excluded identically).
    """
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    gram_arr = F.when(
        F.size(toks) >= SUBSTR_N,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - SUBSTR_N),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(toks, i + k + 1) for k in range(SUBSTR_N)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # round 16 (VERDICT r15 item 5): single-consumer explode, zero
    # checkpoints. One exchange by gram; "appears in >= 2 docs" is
    # min(doc_id) != max(doc_id) over the gram partition (two unbounded
    # frames, one WindowExec, no payload collection) — replaces the
    # distinct + count + semi-join that needed the exploded frame three
    # times and therefore an O(positions) eager checkpoint.
    g = _spread_if_narrow(docs).select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    )
    w_gram = Window.partitionBy("gram")
    flagged = (
        g.select(
            "doc_id",
            "pos",
            F.min("doc_id").over(w_gram).alias("_mn"),
            F.max("doc_id").over(w_gram).alias("_mx"),
        )
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = flagged.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    runs = isl.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run"))
    dupagg = runs.groupBy("doc_id").agg(
        F.sum("run").alias("n_dup"), F.max("run").alias("longest")
    )
    # per-doc gram count = size(toks) - N + 1 exactly (the transform's
    # sequence length) — no second pass over the exploded frame; docs
    # with zero grams are excluded, as the explode-side count was
    totals = docs.select(
        "doc_id",
        (F.size(toks) - F.lit(SUBSTR_N - 1)).cast("long").alias("n_grams"),
    ).filter(F.col("n_grams") >= 1)
    return (
        totals.join(dupagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_dup"), F.lit(0))
            .cast("long")
            .alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_grams"), 6
            ).alias("dup_ratio"),
            F.coalesce(F.col("longest"), F.lit(0))
            .cast("long")
            .alias("longest_dup_run"),
        )
        .orderBy("doc_id")
    )


QUERIES["dedup_exact_substring_spans"] = dedup_exact_substring_spans

_SUBSTR_GRAM_CONCAT = " || ' ' || ".join(
    f"toks[i + {k + 1}]" for k in range(SUBSTR_N)
)

ORACLE["dedup_exact_substring_spans"] = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), "
    "g AS (SELECT doc_id, CAST(i AS INT) AS pos, "
    f"{_SUBSTR_GRAM_CONCAT} AS gram "
    f"FROM t, UNNEST(range(0, greatest(len(toks) - {SUBSTR_N - 1}, 0))) "
    "AS u(i)), "
    "dup AS (SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS nd "
    "FROM g GROUP BY 1) WHERE nd >= 2), "
    "f AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)), "
    "isl AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER ("
    "PARTITION BY doc_id ORDER BY pos) AS grp FROM f), "
    "runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM isl GROUP BY 1, 2), "
    "da AS (SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_dup, "
    "CAST(MAX(run) AS BIGINT) AS longest FROM runs GROUP BY 1), "
    "tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1) "
    "SELECT t.doc_id, t.n_grams, "
    "COALESCE(d.n_dup, 0) AS n_dup_grams, "
    "ROUND(COALESCE(d.n_dup, 0) * 1.0 / t.n_grams, 6) AS dup_ratio, "
    "COALESCE(d.longest, 0) AS longest_dup_run "
    "FROM tot t LEFT JOIN da d USING (doc_id) ORDER BY doc_id"
)


# --- Asymmetric shingle containment (Broder 1997) --------------------------

CONTAINMENT_THRESHOLD = 0.9


def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — asymmetric **containment** dedup (Broder 1997,
    "On the resemblance and containment of documents"):
    ``c(A→B) = |S(A) ∩ S(B)| / |S(A)|`` over distinct 3-gram shingles.
    Near-1 containment with low Jaccard is the subset-duplicate case —
    a doc embedded inside a larger one (quoting, concatenated crawls) —
    which symmetric-Jaccard dedup (``dedup_ngram_jaccard``) structurally
    misses. Emits every ordered pair at containment ≥ 0.9, labelling
    which side is contained.

    Scale shape: identical to the Jaccard pipeline — candidates from
    the shared-shingle inverted-index equi-join (never all-pairs), the
    intersection count from the join's groupBy, per-doc sizes joined
    in. One extra projection turns each unordered candidate pair into
    the two directed containments; no extra shuffle.

    Determinism: integer counts; the ratio rounds at 6 dp with the
    threshold applied to the UNROUNDED value in both engines; ties
    impossible in ordering (doc_a, doc_b unique per direction).
    """
    docs = read_table(spark, sf_dir, "documents")
    j = _pair_counts(docs)
    # both directed containments from ONE pass over the pair stream —
    # the previous fwd/rev UNION consumed the join subtree twice, so
    # the whole candidate pipeline executed twice (rule 5; measured
    # 33 s at 30x docs, ~2x the single-pass cost)
    both = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained_doc"),
                    F.col("doc_b").alias("container_doc"),
                    (F.col("n_inter") / F.col("n_a")).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained_doc"),
                    F.col("doc_a").alias("container_doc"),
                    (F.col("n_inter") / F.col("n_b")).alias("containment"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return (
        both.filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select(
            "contained_doc",
            "container_doc",
            F.round("containment", 6).alias("containment"),
        )
        .orderBy("contained_doc", "container_doc")
    )


QUERIES["dedup_containment_ngram"] = dedup_containment_ngram

ORACLE["dedup_containment_ngram"] = (
    f"WITH sh AS ({_SHINGLE_SQL}), "
    "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i "
    "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "j AS (SELECT doc_a, doc_b, i, sa.n AS n_a, sb.n AS n_b "
    "FROM inter JOIN sz sa ON sa.doc_id = doc_a "
    "JOIN sz sb ON sb.doc_id = doc_b), "
    "d AS (SELECT doc_a AS contained_doc, doc_b AS container_doc, "
    "i * 1.0 / n_a AS containment FROM j "
    "UNION ALL "
    "SELECT doc_b AS contained_doc, doc_a AS container_doc, "
    "i * 1.0 / n_b AS containment FROM j) "
    "SELECT contained_doc, container_doc, "
    "ROUND(containment, 6) AS containment FROM d "
    f"WHERE containment >= {CONTAINMENT_THRESHOLD} "
    "ORDER BY contained_doc, container_doc"
)


# --- Prefix-filtered set-similarity join (AllPairs / PPJoin family) --------


def _prefix_candidates(docs: DataFrame, threshold_pct: int) -> DataFrame:
    """Candidate pairs under **prefix filtering** (Chaudhuri et al.
    ICDE 2006; Bayardo et al. WWW 2007 AllPairs; the MapReduce form is
    Vernica et al. SIGMOD 2010): order every document's shingle set by a
    single global total order — ascending corpus document-frequency,
    shingle string as the tiebreak — and index only each set's first
    ``n - ceil(t*n) + 1`` shingles. Two sets whose prefixes are disjoint
    cannot reach Jaccard ``t``, so equi-joining on PREFIX shingles alone
    is a lossless candidate generator that skips the high-df tail
    (exactly the tokens whose inverted lists explode at corpus scale).

    ``ceil(t*n)`` is computed in integer space (``(p*n + p - 1) DIV q``
    for ``t = p/q``) — an FP ``ceil(0.8*n)`` rounds up on the binary
    representation error and would silently shorten the prefix (a
    recall bug, not a precision one).
    """
    prefix = _prefix_rows(docs, threshold_pct).select("doc_id", "shingle")
    # posting-list i<j combinations: the prefix subtree (explode + df
    # ride + two windows) executes ONCE — the old self-join consumed it
    # from both sides, doubling the whole pipeline (rule 5)
    posting = prefix.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    return posting_pairs(posting, "ds", "doc_a", "doc_b").distinct()


def _prefix_rows(docs: DataFrame, threshold_pct: int) -> DataFrame:
    """Prefix rows ``(doc_id, shingle, rnk, n)`` under the global
    ascending-df order (see :func:`_prefix_candidates` for the theory);
    ``rnk`` is the shingle's 1-based position in the doc's order and
    ``n`` the doc's set size — the extra columns PPJoin's positional
    bound needs."""
    from pyspark.sql.window import Window  # lazy: needs active session

    p, q = threshold_pct, 100
    sh = _shingles(_spread_if_narrow(docs))
    # ONE pass: group the exploded stream by shingle so the document
    # frequency rides the re-exploded posting rows — the old shape
    # consumed the explode subtree twice (dfreq aggregate + the
    # row-level sh ⋈ dfreq join) and shuffled the full stream for the
    # join on top (rule 5; round-12 dedup sweep)
    posting = sh.groupBy("shingle").agg(
        F.collect_list("doc_id").alias("ds"), F.count(F.lit(1)).alias("df")
    )
    rows = posting.select("shingle", "df", F.explode("ds").alias("doc_id"))
    order_w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    size_w = Window.partitionBy("doc_id")
    ranked = rows.select(
        "doc_id",
        "shingle",
        F.row_number().over(order_w).alias("rnk"),
        F.count(F.lit(1)).over(size_w).alias("n"),
    )
    return ranked.filter(
        F.col("rnk")
        <= F.col("n") - F.expr(f"({p} * n + {q - 1}) DIV {q}") + 1
    )


def _ppjoin_candidates(docs: DataFrame, threshold_pct: int) -> DataFrame:
    """PPJoin's **positional filter** (Xiao, Wang, Lin & Yu, WWW 2008) on
    top of the prefix filter: a shared prefix shingle at order positions
    ``(i, j)`` caps the achievable overlap at
    ``1 + min(n_a - i, n_b - j)`` (everything before the match on each
    side is disjoint by the shared total order — at most the suffixes
    after it can still intersect). Keep the pair only if the BEST shared
    prefix shingle's cap reaches the Jaccard-equivalent overlap floor
    ``α = ceil(t/(1+t)·(n_a+n_b))`` — integer form ``(4·(n_a+n_b)+8)
    DIV 9`` at t = 0.8. Lossless like the prefix filter, strictly
    tighter: pairs the prefix join admits on a late, low-upper-bound
    collision die here without ever reaching the verify join.
    """
    p, q = threshold_pct, 100
    pref = _prefix_rows(docs, threshold_pct)
    # posting-list combinations carrying (rnk, n) per side — single
    # execution of the prefix subtree, same rule-5 rewrite as
    # _prefix_candidates; sort key is the struct, doc_id first, so
    # doc_a < doc_b by construction
    posting = pref.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "rnk", "n"))
        ).alias("ds")
    )
    pairs = (
        posting_pairs(posting, "ds", "xa", "yb")
        .select(
            F.col("xa.doc_id").alias("doc_a"),
            F.col("xa.rnk").alias("rnk_a"),
            F.col("xa.n").alias("n_a"),
            F.col("yb.doc_id").alias("doc_b"),
            F.col("yb.rnk").alias("rnk_b"),
            F.col("yb.n").alias("n_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(
                F.lit(1)
                + F.least(
                    F.col("n_a") - F.col("rnk_a"),
                    F.col("n_b") - F.col("rnk_b"),
                )
            ).alias("ubound"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    alpha = F.expr(f"({p} * (n_a + n_b) + {p + q - 1}) DIV {p + q}")
    return pairs.filter(F.col("ubound") >= alpha).select("doc_a", "doc_b")


def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — exact-Jaccard near-dup pairs via the **AllPairs
    prefix filter** instead of the full shared-shingle inverted index:
    candidates come only from shared PREFIX shingles (see
    :func:`_prefix_candidates`), then each candidate pair is verified
    with exact Jaccard over the full sets. Lossless by the prefix-filter
    theorem, so the result is IDENTICAL to :func:`dedup_ngram_jaccard`
    (the oracle is literally that query's SQL) while the candidate join
    touches a fraction of the inverted index — the standard answer when
    frequent tokens make plain shared-token blocking quadratic at
    100 TB. Verification collapses the exploded shingle stream to ONE
    per-doc collected-set aggregate first (the subtree-reexecution rule:
    every extra consumer of the corpus-sized explode re-runs it), then
    joins the few candidate pairs to that compact table twice and takes
    ``array_intersect`` sizes — cost ∝ candidates × set size, never
    corpus², and the explode executes once per keyed consumer instead of
    three more times for sizes + two row-level verify joins.
    """
    docs = read_table(spark, sf_dir, "documents")
    cand = _prefix_candidates(docs, int(JACCARD_THRESHOLD * 100))
    return _verify_candidates_jaccard(docs, cand)


def _verify_candidates_jaccard(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verify of a candidate-pair stream against the
    collected per-doc shingle sets (shared by the AllPairs and PPJoin
    operators — see :func:`dedup_allpairs_prefix` for the shape
    rationale)."""
    sh = _shingles(_spread_if_narrow(docs))
    docsets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sset"),
        F.count(F.lit(1)).alias("n"),
    )
    # twin joins move the HEAVY side (the 300-string sets) only inside
    # the doc-count-sized docsets shuffles; the candidate stream rides
    # lean. (A single-consumer melt was tried in round 12 and is WORSE:
    # it re-keys the joined rows by pair, so every candidate drags both
    # full sets through a second shuffle — sets must never ride a
    # pair-sized stream.) docsets re-executes per side (rule 5) but its
    # explode is the cheap post-rewrite expression; candidates dominate.
    da = docsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("set_a"),
        F.col("n").alias("n_a"),
    )
    db = docsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("set_b"),
        F.col("n").alias("n_b"),
    )
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        verified.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


QUERIES["dedup_allpairs_prefix"] = dedup_allpairs_prefix

# lossless prefix filter ⇒ same result set as the plain inverted-index
# formulation; the oracle is deliberately the simple exact SQL
ORACLE["dedup_allpairs_prefix"] = ORACLE["dedup_ngram_jaccard"]


def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **PPJoin** (Xiao et al., WWW 2008): the prefix filter
    plus the positional filter (:func:`_ppjoin_candidates`), then the
    same exact-Jaccard verify. Both filters are lossless, so the output
    is again IDENTICAL to :func:`dedup_ngram_jaccard` — what changes at
    scale is the candidate count that survives to the verify join, and
    the property tests pin ``ppjoin ⊆ prefix ⊂ full inverted index``
    candidate containment alongside result equality.
    """
    docs = read_table(spark, sf_dir, "documents")
    cand = _ppjoin_candidates(docs, int(JACCARD_THRESHOLD * 100))
    return _verify_candidates_jaccard(docs, cand)


QUERIES["dedup_ppjoin"] = dedup_ppjoin
ORACLE["dedup_ppjoin"] = ORACLE["dedup_ngram_jaccard"]


# --- LSH quality evaluation: portable-hash MinHash vs exact truth -------------

EVAL_PERMS = 16
EVAL_BANDS = 4
EVAL_ROWS = 4  # EVAL_PERMS / EVAL_BANDS; collision threshold ~ (1/4)^(1/4)


def _md5long15(s):
    """Portable 60-bit integer hash: first 15 hex chars of md5 — the
    `sketches._cms_hash` device widened to minhash width. Identical in
    Spark (conv) and DuckDB ('0x' cast)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def dedup_eval_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **measured LSH quality**: run a MinHash-LSH banding
    built ENTIRELY from portable md5 hashes (16 permutations × 4 bands
    of 4 rows) and score its candidate set against the exact-Jaccard
    ≥ 0.8 truth set from the exhaustive inverted index
    (`_jaccard_pairs` — complete above any positive threshold, since
    J > 0 requires a shared shingle). Emits the counts and the two
    numbers every LSH deployment is judged by:

    - ``lsh_recall`` = |candidates ∩ truth| / |truth| — theory predicts
      1 − (1 − J^r)^b ≈ 0.88 at J = 0.8 for (b=4, r=4);
    - ``candidate_precision`` = |candidates ∩ truth| / |candidates| —
      the verify-stage workload efficiency.

    The production pipeline (`dedup_minhash_near`, xxhash64, 32 perms)
    is rows-only by necessity — engine-native hashing. THIS operator is
    the hash-checkable twin that pins the whole LSH mechanism
    cross-engine: signatures, banding, bucket collision, candidate
    generation and both quality ratios are bit-identical in DuckDB
    (md5 is the portable hash family of `agg_count_min_sketch`).

    Scale: signature build is one pass over the exploded shingles (16
    min-aggregates, map-side combinable); banding is ONE explode of a
    per-band struct array (never a union re-executing the signature);
    candidates come from per-bucket posting-list combinations — no
    cross join anywhere; the truth side is the shared `_pair_counts`
    single-pass pipeline.

    vs reference: no analogue (`dashboard_nfp.py` has no text surface).
    """
    docs = read_table(spark, sf_dir, "documents")
    sh = _shingles(_spread_if_narrow(docs))
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                _md5long15(F.concat(F.lit(f"mh{i}:"), F.col("shingle")))
            ).alias(f"h{i}")
            for i in range(EVAL_PERMS)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * EVAL_ROWS + r}").cast("string")
                        for r in range(EVAL_ROWS)
                    ],
                ).alias("bsig"),
            )
            for b in range(EVAL_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.bsig"
    )
    posting = bands.groupBy("band", "bsig").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    cands = posting_pairs(posting, "ds", "doc_a", "doc_b").distinct()
    truth = _jaccard_pairs(docs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_det = truth.join(cands, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_detected")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_det))
        .select(
            "n_true",
            "n_candidates",
            "n_detected",
            dround(
                F.try_divide(
                    F.col("n_detected").cast("double"),
                    F.col("n_true").cast("double"),
                ),
                6,
            ).alias("lsh_recall"),
            dround(
                F.try_divide(
                    F.col("n_detected").cast("double"),
                    F.col("n_candidates").cast("double"),
                ),
                6,
            ).alias("candidate_precision"),
        )
    )


QUERIES["dedup_eval_minhash_lsh"] = dedup_eval_minhash_lsh


def _minhash_eval_oracle_sql() -> str:
    def h(i: int) -> str:
        return (
            f"MIN(CAST(('0x' || substr(md5('mh{i}:' || shingle), 1, 15)) "
            f"AS BIGINT)) AS h{i}"
        )

    sig_cols = ", ".join(h(i) for i in range(EVAL_PERMS))
    band_branches = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"CAST(h{b * EVAL_ROWS + r} AS VARCHAR)"
            for r in range(EVAL_ROWS)
        )
        + " AS bsig FROM sig"
        for b in range(EVAL_BANDS)
    )
    return (
        f"WITH sh AS MATERIALIZED ({_SHINGLE_SQL}), "
        "sz AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) "
        "AS n FROM sh GROUP BY 1), "
        "inter AS MATERIALIZED (SELECT a.doc_id AS doc_a, "
        "b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS i "
        "FROM sh a JOIN sh b ON a.shingle = b.shingle "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "truth AS MATERIALIZED (SELECT doc_a, doc_b FROM inter "
        "JOIN sz sa ON sa.doc_id = doc_a "
        "JOIN sz sb ON sb.doc_id = doc_b "
        f"WHERE i / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}), "
        f"sig AS MATERIALIZED (SELECT doc_id, {sig_cols} "
        "FROM sh GROUP BY 1), "
        f"bands AS MATERIALIZED ({band_branches}), "
        "cands AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, "
        "b.doc_id AS doc_b FROM bands a JOIN bands b "
        "ON a.band = b.band AND a.bsig = b.bsig "
        "AND a.doc_id < b.doc_id), "
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth), "
        "nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates "
        "FROM cands), "
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_detected "
        "FROM truth JOIN cands ON cands.doc_a = truth.doc_a "
        "AND cands.doc_b = truth.doc_b) "
        "SELECT n_true, n_candidates, n_detected, "
        "ROUND(CASE WHEN n_true > 0 THEN CAST(n_detected AS DOUBLE) "
        "/ CAST(n_true AS DOUBLE) END, 6) AS lsh_recall, "
        "ROUND(CASE WHEN n_candidates > 0 THEN "
        "CAST(n_detected AS DOUBLE) / CAST(n_candidates AS DOUBLE) END, 6) "
        "AS candidate_precision "
        "FROM nt, nc, nd"
    )


ORACLE["dedup_eval_minhash_lsh"] = _minhash_eval_oracle_sql()


# --- Blocked edit-distance (Levenshtein) near-dedup --------------------------------

LEV_BLOCK_TOKS = 8  # token-count bucket width of the blocking key
LEV_MAX_BLOCK = 50  # block-size cap — the quadratic-bound contract
LEV_REL_DEN = 5  # near iff 5*lev <= max(len): relative distance <= 20%


def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **blocked edit-distance near-dedup** (classic record
    linkage: Navarro, ACM Comp. Surveys 2001): candidate pairs from a
    cheap blocking key — (token-count bucket, first two tokens) — then
    exact Levenshtein distance on the normalized text, keeping pairs
    with relative distance ≤ 20% (compared in INTEGER space,
    5·lev ≤ max(len), CLAUDE.md rule 3). The character-level member of
    the near-dup family: MinHash/Jaccard sees shingle SETS (reorder-
    invariant), SimHash token frequencies; Levenshtein is the only one
    that prices INSERTIONS/EDITS positionally, which is what catches
    small in-place corruptions of otherwise identical docs.

    Scale posture: blocking is one hash aggregate; pair generation is
    the posting-list i<j device (never an all-pairs join) with the
    block-size cap as the quadratic bound (≤ C(50,2) pairs per block,
    contract mirrored in the oracle); the O(len²) Levenshtein kernel
    runs ONCE per candidate pair, JVM-side in both engines; texts join
    the id-only pair stream DOC-keyed (heavy payloads never ride a
    pair-keyed shuffle — SCALE.md round 12). Both engines' levenshtein
    is the unit-cost insert/delete/substitute distance, which the
    value hash proves.
    """
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    base = _spread_if_narrow(
        docs.select("doc_id", norm.alias("nt")).select(
            "doc_id", "nt", F.length("nt").alias("ln")
        )
    )
    toks = F.split(F.col("nt"), " ")
    blk = F.concat_ws(
        "|",
        F.floor(F.size(toks) / F.lit(float(LEV_BLOCK_TOKS))).cast("string"),
        F.element_at(toks, 1),
        F.coalesce(F.try_element_at(toks, F.lit(2)), F.lit("")),
    )
    posting = (
        base.select("doc_id", blk.alias("blk"))
        .groupBy("blk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= LEV_MAX_BLOCK)
        )
    )
    pairs = posting_pairs(posting, "ids", "doc_a", "doc_b").select(
        "doc_a", "doc_b"
    )
    ta = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("nt").alias("ta"),
        F.col("ln").alias("len_a"),
    )
    tb = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("nt").alias("tb"),
        F.col("ln").alias("len_b"),
    )
    cand = pairs.join(ta, "doc_a").join(tb, "doc_b")
    # two exact prunes before/inside the O(len*k) kernel (round-13 bench:
    # full-matrix levenshtein was the 4-5x-vs-DuckDB hot spot at 30x/100x):
    # (1) lev >= |len_a - len_b|, so pairs whose LENGTH GAP alone exceeds
    #     the 20% bound skip the kernel entirely (integer filter);
    # (2) the kernel runs BANDED with per-pair threshold floor(mx/5)
    #     (Spark's 3-arg levenshtein; returns -1 above the bound) —
    #     led >= 0 is then EXACTLY the 5*lev <= mx predicate, and the
    #     returned distance is exact for every kept pair.
    mx = F.greatest(F.col("len_a"), F.col("len_b"))
    pre = cand.select(
        "doc_a",
        "doc_b",
        "ta",
        "tb",
        "len_a",
        "len_b",
        mx.alias("mx"),
    ).filter(
        F.lit(LEV_REL_DEN) * F.abs(F.col("len_a") - F.col("len_b"))
        <= F.col("mx")
    )
    # the banded kernel is CPU-bound, not shuffle-bound — spread the
    # surviving pairs over every core before it (the pair frame inherits
    # the join's shuffle-partition count, sized for MB-scale exchanges;
    # a kernel stage wants one partition per core, and the extra
    # exchange moves only id+text rows for the survivors)
    par = spark.sparkContext.defaultParallelism
    pre = pre.repartition(par)
    led = F.expr(f"levenshtein(ta, tb, CAST(mx DIV {LEV_REL_DEN} AS INT))")
    return (
        pre.select(
            "doc_a",
            "doc_b",
            led.alias("lev_dist"),
            F.col("len_a").cast("int").alias("len_a"),
            F.col("len_b").cast("int").alias("len_b"),
            "mx",
        )
        .filter(F.col("lev_dist") >= 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("lev_dist").cast("int").alias("lev_dist"),
            "len_a",
            "len_b",
            dround(
                F.col("lev_dist").cast("double") / F.col("mx").cast("double"),
                6,
            ).alias("rel_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES["dedup_levenshtein_blocked"] = dedup_levenshtein_blocked

ORACLE["dedup_levenshtein_blocked"] = (
    "WITH base AS (SELECT doc_id, "
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt "
    "FROM documents), "
    "b2 AS (SELECT doc_id, nt, CAST(length(nt) AS BIGINT) AS ln, "
    "string_split(nt, ' ') AS toks FROM base), "
    "b3 AS (SELECT doc_id, nt, ln, concat_ws('|', "
    f"CAST(CAST(floor(len(toks) / {LEV_BLOCK_TOKS}.0) AS BIGINT) "
    "AS VARCHAR), toks[1], COALESCE(toks[2], '')) AS blk FROM b2), "
    "ok_blk AS (SELECT blk FROM b3 GROUP BY blk "
    f"HAVING COUNT(*) BETWEEN 2 AND {LEV_MAX_BLOCK}), "
    "p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b "
    "FROM b3 x JOIN b3 y ON x.blk = y.blk AND x.doc_id < y.doc_id "
    "JOIN ok_blk ON ok_blk.blk = x.blk), "
    "c AS (SELECT doc_a, doc_b, "
    "CAST(levenshtein(ta.nt, tb.nt) AS INT) AS lev_dist, "
    "CAST(ta.ln AS INT) AS len_a, CAST(tb.ln AS INT) AS len_b, "
    "greatest(ta.ln, tb.ln) AS mx "
    "FROM p JOIN b2 ta ON ta.doc_id = p.doc_a "
    "JOIN b2 tb ON tb.doc_id = p.doc_b) "
    "SELECT doc_a, doc_b, lev_dist, len_a, len_b, "
    "ROUND(CAST(lev_dist AS DOUBLE) / CAST(mx AS DOUBLE), 6) AS rel_dist "
    f"FROM c WHERE {LEV_REL_DEN} * lev_dist <= mx "
    "ORDER BY doc_a, doc_b"
)


# --- Duplication-rate report by source ---------------------------------------------


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **duplication-rate report** per source: docs, exact
    groups (on normalized text), duplicate rows and the dup rate — the
    per-source contamination summary a mixture builder reads BEFORE
    choosing weights (the reporting layer over `dedup_exact`'s keyed
    dedup and `dedup_cluster_size_histogram`'s global shape).

    All counts exact off ONE (source, norm-hash) aggregate — the text
    never shuffles twice (md5 fingerprint first, the `dedup_exact`
    posture); the two ratios are single divisions of exact ints,
    `dround` 6.

    Scale: fingerprint map → one two-level aggregate, both map-side
    combinable."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = docs.select("source", F.md5(norm).alias("h"))
    groups = fp.groupBy("source", "h").agg(F.count(F.lit(1)).alias("c"))
    per = groups.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("c") - 1).alias("n_dup_rows"),
    )
    return per.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.col("n_dup_rows").cast("long").alias("n_dup_rows"),
        dround(
            F.col("n_dup_rows").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
        dround(
            F.col("n_unique").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("unique_ratio"),
    ).orderBy("source")


QUERIES["dedup_rate_by_source"] = dedup_rate_by_source

ORACLE["dedup_rate_by_source"] = (
    "WITH fp AS (SELECT source, "
    "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h "
    "FROM documents), "
    "g AS (SELECT source, h, CAST(COUNT(*) AS BIGINT) AS c "
    "FROM fp GROUP BY 1, 2), "
    "p AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs, "
    "CAST(COUNT(*) AS BIGINT) AS n_unique, "
    "CAST(SUM(c - 1) AS BIGINT) AS n_dup_rows FROM g GROUP BY 1) "
    "SELECT source, n_docs, n_unique, n_dup_rows, "
    "ROUND(CAST(n_dup_rows AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) "
    "AS dup_rate, "
    "ROUND(CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) "
    "AS unique_ratio "
    "FROM p ORDER BY source"
)
