"""LLM training-data preparation operators beyond dedup/text basics:
PII detection + redaction, benchmark decontamination, and repetition
(boilerplate) quality signals over the ``documents`` table.

These are the remaining standard stages of a pre-training data pipeline
(alongside ``dedup.py``'s near-dup family and ``text.py``'s quality/langid
pack). All are builtin string/array/regex expressions — no Python UDFs, so
at 100 TB they run inside whole-stage codegen on the scan.

The fixture corpus has no natural PII, so the PII operators INJECT
deterministic synthetic spans (doc_id-derived emails / phone numbers /
IPv4s on a fixed modulus schedule) before detecting them — the same
fixture-synthesis device the multimodal pack uses for binary payloads
(``multimodal.py``). Both engines apply the identical injection, so the
detect/redact logic is oracle-checked end to end, with a guaranteed mix
of clean and PII-bearing rows.

Regex dialect note: patterns stay within the intersection of Java regex
(Spark) and RE2/PCRE (DuckDB) — explicit character classes, no
shorthand ``\\d``/``\\w``, no backreferences. DuckDB ``regexp_replace``
needs the ``'g'`` flag to match Spark's replace-all default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import davg, davg_sql, dround, dsum_scaled
from ..io import broadcastable, read_table

EMAIL_RE = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"
IP_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"


def _with_pii(docs: DataFrame) -> DataFrame:
    """Deterministic PII injection: every 7th doc gains an email, every
    11th a phone number, every 13th an IPv4 — all derived from doc_id, so
    the corpus mixes clean rows, single-kind rows, and multi-kind rows."""
    d = F.col("doc_id")
    email = F.when(
        d % 7 == 0,
        F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 11 == 0,
        F.concat(F.lit(" call 555-"), F.lpad((d % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 13 == 0,
        F.concat(
            F.lit(" host 10.0."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d * 7) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat(F.col("text"), email, phone, ip).alias("text"),
        "source",
    )


# the same injection as ANSI SQL, shared by every PII oracle
_PII_SQL = (
    "SELECT doc_id, text || "
    "CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com' ELSE '' END || "
    "CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END || "
    "CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS text, "
    "source FROM documents"
)


def pii_detect_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — per-document PII span counts (emails / phones / IPv4)
    plus a corpus-level flag, the audit pass run before redaction. Pure
    ``regexp_count`` expressions over the scan — one stage, no shuffle
    at all: the per-doc output IS the result."""
    docs = _with_pii(read_table(spark, sf_dir, "documents"))
    n_email = F.regexp_count("text", F.lit(EMAIL_RE))
    n_phone = F.regexp_count("text", F.lit(PHONE_RE))
    n_ip = F.regexp_count("text", F.lit(IP_RE))
    return docs.select(
        "doc_id",
        n_email.cast("int").alias("n_emails"),
        n_phone.cast("int").alias("n_phones"),
        n_ip.cast("int").alias("n_ips"),
        ((n_email + n_phone + n_ip) > 0).cast("int").alias("has_pii"),
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — PII redaction: replace every detected span with a
    typed placeholder and emit the scrubbed text plus an audit count.
    Order matters: IPs redact BEFORE phones (an IPv4 octet pair like
    ``555-0042`` can't occur, but a phone pattern could half-match inside
    an IP if phones ran first with a different schedule) — the ordering
    is part of the checked contract. Single-stage scan, codegen'd."""
    docs = _with_pii(read_table(spark, sf_dir, "documents"))
    n_spans = (
        F.regexp_count("text", F.lit(EMAIL_RE))
        + F.regexp_count("text", F.lit(IP_RE))
        + F.regexp_count("text", F.lit(PHONE_RE))
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"),
            IP_RE,
            "<IP>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        redacted.alias("clean_text"),
        n_spans.cast("int").alias("n_redacted"),
        F.length(redacted).cast("int").alias("clean_len"),
    )


DECONTAM_NGRAM = 5
DECONTAM_BENCH_MOD = 97  # doc_id % 97 == 0 -> held-out "benchmark" doc


def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — benchmark decontamination: find training documents
    sharing ≥1 distinct 5-gram with any held-out benchmark document
    (the standard n-gram-overlap test-set leak check). Report each
    contaminated (train, benchmark) pair with the shared-shingle count
    and the containment ratio (shared / train-doc shingles).

    Scale shape: the benchmark side comes from its own pre-filtered scan
    (1/97 of doc_ids — the corpus-sized shingle pipeline is never
    executed to build it) and BROADCASTS while the base documents table
    is small enough to bound it (same ``io.broadcastable`` gate as
    ``tpch_q8_market_share``; past the gate the join degrades to the
    shuffle equi-join, still inverted-index-shaped). The training corpus
    pays exactly two scans — the broadcast probe and the per-doc size
    aggregate — and never shuffles its shingle stream for the probe; no
    pair explosion beyond actual hits can occur. Shingling reuses
    ``dedup._shingles`` (one implementation of the guarded n-gram
    construction to keep correct)."""
    from .dedup import _shingles

    docs = read_table(spark, sf_dir, "documents")
    bench = _shingles(
        docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0),
        n=DECONTAM_NGRAM,
    ).select(F.col("doc_id").alias("bench_id"), F.col("shingle").alias("sh"))
    if broadcastable(sf_dir, "documents"):
        bench = F.broadcast(bench)
    from .dedup import _spread_if_narrow

    train = _shingles(
        _spread_if_narrow(docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)),
        n=DECONTAM_NGRAM,
    ).select("doc_id", F.col("shingle").alias("sh"))
    train_sizes = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    hits = (
        train.join(bench, "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        hits.join(train_sizes, "doc_id")
        .select(
            "doc_id",
            "bench_id",
            "n_shared",
            dround(F.col("n_shared") / F.col("n_sh"), 6).alias("containment"),
        )
    )


def quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — repetition/boilerplate signals per document (the
    Gopher-rules family): duplicate-trigram fraction, top-bigram mass
    fraction, and a composite repetitive flag. Every signal is a
    per-document property of the gram arrays, so the whole operator is
    ONE scan → project with array algebra (sizes, array_distinct, and
    a longest-run aggregate over the sorted bigram array for the top
    bigram count) — no explode, no shuffle, no join (round 15; the
    explode+aggregate form re-executed the tokenize/ngram projection
    once per signal branch). Docs shorter than 3 tokens are excluded
    (no trigram signal exists for them)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # Round 16: build the gram arrays with NATIVE expressions only —
    # the round-15 form's transform(sequence, element_at + concat_ws)
    # lambdas evaluate INTERPRETED (HOF lambdas sit outside whole-stage
    # codegen; the functions/pairgen.py finding) and were 4+ s of the
    # 5.2 s operator at sf0.1. arrays_zip of the token array with its
    # own 1- and 2-shifted slices yields the bigram/trigram STRUCT
    # arrays (arrays_zip pads the tail with nulls; the outer slice cuts
    # to the exact gram count), and the positional field names are
    # renamed with one native array cast. Struct equality ≡ the old
    # concat_ws-string equality (tokens are space-split, so the joined
    # string is a bijection of the tuple): array_distinct counts and
    # sorted-run lengths are IDENTICAL integers (verified value-equal
    # at sf0.1), 8.6x faster (5.2 → 0.6 s). The gram COUNTS need no
    # arrays at all: n_big = n-1, n_tri = n-2 on the size>=3 rows.
    # rule-3 guards kept even though the row filter excludes n < 3:
    # Catalyst may evaluate projection expressions around the filter,
    # and slice() with a negative length is a hard error on a 1-token
    # row (same class as the round-8 element_at crash)
    big_structs = F.when(
        n >= 2,
        F.slice(F.arrays_zip(toks, F.slice(toks, 2, n - 1)), 1, n - 1),
    ).cast("array<struct<x:string,y:string>>")
    tri_structs = F.when(
        n >= 3,
        F.slice(
            F.arrays_zip(
                toks, F.slice(toks, 2, n - 1), F.slice(toks, 3, n - 2)
            ),
            1,
            n - 2,
        ),
    ).cast("array<struct<x:string,y:string,z:string>>")
    base = docs.filter(n >= 3).select(
        "doc_id",
        (n - 1).cast("long").alias("n_big"),
        (n - 2).cast("long").alias("n_tri"),
        F.size(F.array_distinct(tri_structs)).cast("long").alias(
            "n_tri_distinct"
        ),
        F.sort_array(big_structs).alias("sorted_big"),
    )
    # top bigram count = longest run in the SORTED bigram array (equal
    # grams are adjacent after sort, so max run length == max per-gram
    # count — the round-15 device, kept: the run aggregate measured
    # cheap; only the gram CONSTRUCTION was the interpreted hot spot).
    # Still no explode, no shuffle, no join: scan → project.
    run_next = lambda acc, x: F.when(  # noqa: E731
        x.eqNullSafe(acc["prev"]), acc["run"] + 1
    ).otherwise(F.lit(1).cast("long"))
    run_state = F.aggregate(
        F.col("sorted_big"),
        F.struct(
            F.lit(None).cast("struct<x:string,y:string>").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_next(acc, x).alias("run"),
            F.greatest(acc["best"], run_next(acc, x)).alias("best"),
        ),
    )
    sig = base.select(
        "doc_id",
        "n_tri",
        "n_tri_distinct",
        "n_big",
        run_state["best"].alias("top_big"),
    )
    dup_tri = 1.0 - F.col("n_tri_distinct") / F.col("n_tri")
    top_big_frac = F.col("top_big") / F.col("n_big")
    return (
        sig
        .select(
            "doc_id",
            dround(dup_tri, 6).alias("dup_trigram_frac"),
            dround(top_big_frac, 6).alias("top_bigram_frac"),
            ((dup_tri > 0.2) | (top_big_frac > 0.18))
            .cast("int")
            .alias("repetitive"),
        )
    )


QUERIES = {
    "pii_detect_stats": pii_detect_stats,
    "pii_redact": pii_redact,
    "decontam_overlap": decontam_overlap,
    "quality_repetition_signals": quality_repetition_signals,
}

ORACLE = {
    "pii_detect_stats": (
        f"WITH p AS ({_PII_SQL}) "
        f"SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails, "
        f"CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones, "
        f"CAST(len(regexp_extract_all(text, '{IP_RE}')) AS INT) AS n_ips, "
        f"CASE WHEN len(regexp_extract_all(text, '{EMAIL_RE}')) + "
        f"len(regexp_extract_all(text, '{PHONE_RE}')) + "
        f"len(regexp_extract_all(text, '{IP_RE}')) > 0 THEN 1 ELSE 0 END "
        "AS has_pii FROM p"
    ),
    "pii_redact": (
        f"WITH p AS ({_PII_SQL}) "
        "SELECT doc_id, "
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{EMAIL_RE}', '<EMAIL>', 'g'), '{IP_RE}', '<IP>', 'g'), "
        f"'{PHONE_RE}', '<PHONE>', 'g') AS clean_text, "
        f"CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) + "
        f"len(regexp_extract_all(text, '{IP_RE}')) + "
        f"len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_redacted, "
        f"CAST(length(regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{EMAIL_RE}', '<EMAIL>', 'g'), '{IP_RE}', '<IP>', 'g'), "
        f"'{PHONE_RE}', '<PHONE>', 'g')) AS INT) AS clean_len FROM p"
    ),
    "decontam_overlap": (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
        f"FROM documents WHERE len(string_split(text, ' ')) >= {DECONTAM_NGRAM}), "
        "sh AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, "
        "unnest(list_transform("
        f"range(1, len(toks) - {DECONTAM_NGRAM} + 2), "
        f"i -> array_to_string(toks[i : i + {DECONTAM_NGRAM} - 1], ' '))) AS g "
        "FROM t)), "
        f"b AS (SELECT doc_id AS bench_id, g FROM sh "
        f"WHERE doc_id % {DECONTAM_BENCH_MOD} = 0), "
        f"tr AS (SELECT * FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0), "
        "sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM tr GROUP BY 1), "
        "h AS (SELECT tr.doc_id, b.bench_id, COUNT(*) AS n_shared "
        "FROM tr JOIN b ON tr.g = b.g GROUP BY 1, 2) "
        "SELECT h.doc_id, h.bench_id, h.n_shared, "
        "ROUND(CAST(h.n_shared AS DOUBLE) / sz.n_sh, 6) AS containment "
        "FROM h JOIN sz ON h.doc_id = sz.doc_id"
    ),
    "quality_repetition_signals": (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
        "FROM documents WHERE len(string_split(text, ' ')) >= 3), "
        "tri AS (SELECT doc_id, COUNT(*) AS n_tri, "
        "COUNT(DISTINCT g) AS n_tri_distinct FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), "
        "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g "
        "FROM t) GROUP BY 1), "
        "bc AS (SELECT doc_id, g, COUNT(*) AS c FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(toks)), "
        "i -> toks[i] || ' ' || toks[i + 1])) AS g FROM t) GROUP BY 1, 2), "
        "big AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_big, "
        "CAST(MAX(c) AS BIGINT) AS top_big FROM bc GROUP BY 1) "
        "SELECT tri.doc_id, "
        "ROUND(1.0 - CAST(n_tri_distinct AS DOUBLE) / n_tri, 6) "
        "AS dup_trigram_frac, "
        "ROUND(CAST(top_big AS DOUBLE) / n_big, 6) AS top_bigram_frac, "
        "CASE WHEN 1.0 - CAST(n_tri_distinct AS DOUBLE) / n_tri > 0.2 "
        "OR CAST(top_big AS DOUBLE) / n_big > 0.18 THEN 1 ELSE 0 END "
        "AS repetitive FROM tri JOIN big ON tri.doc_id = big.doc_id"
    ),
}


CHUNK_TOKENS = 32  # context-window budget per training sample (fixture-scale)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — context-window chunking: split every document into
    consecutive ≤``CHUNK_TOKENS``-token chunks, one output row per chunk
    (the doc → training-sample explosion every pre-training pipeline runs
    after cleaning). Pure array arithmetic: ``sequence`` over the chunk
    count, ``slice`` + ``array_join`` per chunk — a codegen'd 1-to-N
    explode with no Python and no shuffle at all (the scan partitions
    carry straight through; memory is bounded by rows x chunks-per-doc
    per batch)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(CHUNK_TOKENS)).cast("int")
    chunked = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        toks.alias("toks"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_TOKENS + 1, CHUNK_TOKENS
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).cast("int").alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


VOCAB_TOPK = 24  # of the 31-word fixture vocabulary -> real OOV mass


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — tokenizer vocabulary coverage: derive the
    top-``VOCAB_TOPK`` corpus vocabulary (by term frequency, token
    tiebreak), then score every document's out-of-vocabulary token rate
    against it — the cheap proxy for tokenizer fit / fertility run
    before committing a tokenizer to a corpus.

    Scale shape: the vocabulary is an aggregate over the token stream
    (map-side combined, tiny key space) that BROADCASTS back; the
    per-document pass is scan → explode → broadcast-probe → one groupBy
    doc_id. The corpus token stream shuffles once (the doc aggregate),
    never pairwise."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(VOCAB_TOPK)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "token", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                1.0 - F.col("n_in_vocab") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


# surprisal values are ~O(10) nats; 1e-8 granularity keeps the scaled-int
# per-token values exact in int64 up to trillion-token corpora
SURPRISAL_SCALE = 100_000_000


def quality_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — CCNet-style language-model quality scoring: each
    document's mean unigram surprisal ``-ln(count(tok)/T)`` under the
    corpus's own unigram LM (rare-token-heavy docs score high — the
    perplexity-bucket filter pipelines run before training).

    Scale shape: the LM is one token-count aggregate (map-side combined)
    joined back as a BROADCAST probe; per-doc scoring is scan → explode
    → probe → one groupBy doc_id — two corpus shuffles total, never
    pairwise. A trillion-token corpus would cap the LM at top-K tokens
    plus an OOV floor bucket (the ``vocab_coverage`` shape); the fixture
    LM is exact. Per-token surprisals are summed as scaled int64
    (``davg``) so the doc mean is order-independent — a raw double sum
    would differ across engines' accumulation orders; ``ln`` itself is
    cross-engine stable at 6 dp (the ``text_idf_topk`` / PMI precedent)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("t_total"))
    lm = counts.crossJoin(F.broadcast(total))
    s = -F.log(F.col("cnt").cast("double") / F.col("t_total").cast("double"))
    from ..functions.numerics import dround, dsum_scaled

    return (
        tok.join(F.broadcast(lm), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dsum_scaled(s, SURPRISAL_SCALE).alias("s_scaled"),
        )
        # dround (FP ties-away, == DuckDB ROUND), not F.round: per-doc
        # 6dp quotients at corpus scale WILL eventually land on a
        # half-boundary where F.round's decimal-rendering path flips the
        # opposite way (two sf0.1 hits this round; CLAUDE.md rule 2)
        .select(
            "doc_id",
            "n_tokens",
            dround(
                F.col("s_scaled").cast("double")
                / SURPRISAL_SCALE
                / F.col("n_tokens"),
                6,
            ).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


QUERIES["chunk_documents"] = chunk_documents
QUERIES["vocab_coverage"] = vocab_coverage
QUERIES["quality_unigram_surprisal"] = quality_unigram_surprisal

ORACLE["chunk_documents"] = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), "
    "c AS (SELECT doc_id, toks, len(toks) AS n_tokens, "
    f"unnest(range(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT))) "
    "AS chunk_id FROM t) "
    "SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, "
    f"CAST(len(toks[chunk_id * {CHUNK_TOKENS} + 1 : "
    f"chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}]) AS INT) AS chunk_tokens, "
    f"array_to_string(toks[chunk_id * {CHUNK_TOKENS} + 1 : "
    f"chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}], ' ') AS chunk_text "
    "FROM c"
)

ORACLE["vocab_coverage"] = (
    "WITH tok AS (SELECT doc_id, t.tok AS token FROM "
    "(SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
    "UNNEST(toks) AS t(tok)), "
    "v AS (SELECT token FROM (SELECT token, COUNT(*) AS tf FROM tok "
    f"GROUP BY 1) ORDER BY tf DESC, token LIMIT {VOCAB_TOPK}) "
    "SELECT doc_id, COUNT(*) AS n_tokens, "
    "ROUND(1.0 - CAST(SUM(CASE WHEN token IN (SELECT token FROM v) "
    "THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS oov_rate "
    "FROM tok GROUP BY 1"
)

ORACLE["quality_unigram_surprisal"] = (
    "WITH tok AS (SELECT doc_id, t.tok AS token FROM "
    "(SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
    "UNNEST(toks) AS t(tok)), "
    "c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1), "
    "tt AS (SELECT SUM(cnt) AS t_total FROM c), "
    "lm AS (SELECT token, "
    "-ln(CAST(cnt AS DOUBLE) / CAST(t_total AS DOUBLE)) AS s "
    "FROM c, tt) "
    "SELECT doc_id, COUNT(*) AS n_tokens, "
    f"ROUND({davg_sql('s', SURPRISAL_SCALE)}, 6) AS avg_surprisal "
    "FROM tok JOIN lm USING (token) GROUP BY 1 ORDER BY 1"
)


def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — the CCNet **perplexity-bucket split** (Wenzek et al.
    2020): order documents by LM score and cut the corpus into equal
    thirds — ``head`` (most fluent), ``middle``, ``tail`` — the standard
    coarse quality tiers a pre-training mixture samples from. The LM
    score is :func:`quality_unigram_surprisal` (lower = more fluent), so
    the whole pipeline stays deterministic: rounded scores + doc_id
    tiebreak give a TOTAL order, and ``ntile(3)`` has identical
    semantics in both engines.

    Scale note: the tercile window runs over PER-DOCUMENT scores (one
    row per doc, after the token-level aggregation collapses), not over
    tokens. At 100 TB the same split uses two broadcast approx-quantile
    thresholds instead of a global ntile sort; the exact equal-thirds
    semantics here is the published recipe and stays oracle-checkable.
    """
    from pyspark.sql.window import Window

    s = quality_unigram_surprisal(spark, sf_dir).select(
        "doc_id", "avg_surprisal"
    )
    w = Window.orderBy("avg_surprisal", "doc_id")
    return (
        s.select("doc_id", "avg_surprisal", F.ntile(3).over(w).alias("t"))
        .select(
            "doc_id",
            "avg_surprisal",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


QUERIES["quality_ccnet_buckets"] = quality_ccnet_buckets

ORACLE["quality_ccnet_buckets"] = (
    f"WITH s AS ({ORACLE['quality_unigram_surprisal']}) "
    "SELECT doc_id, avg_surprisal, "
    "CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END "
    "AS bucket FROM (SELECT doc_id, avg_surprisal, "
    "NTILE(3) OVER (ORDER BY avg_surprisal, doc_id) AS t FROM s) "
    "ORDER BY doc_id"
)


PACK_SEQ_TOKENS = 64    # training-block length (fixture-scale)
PACK_BUCKET_SPAN = 256  # doc_ids per prefix-sum bucket


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — concat-and-split sequence packing: lay every document's
    tokens end to end in doc_id order and cut the stream into fixed
    ``PACK_SEQ_TOKENS``-token training blocks; emit each doc's global
    token offset and the block range it lands in (the GPT-style packing
    map every pre-training pipeline computes after cleaning; chunking
    (:func:`chunk_documents`) splits WITHIN docs, packing places docs
    within a GLOBAL stream).

    The global running offset is a distributed TWO-LEVEL PREFIX SUM, not
    a single-partition window: per-doc lengths aggregate into
    ``doc_id div PACK_BUCKET_SPAN`` buckets, the tiny bucket table takes
    the only global cumsum (rows = docs/span — at 100 TB repeat the
    reduction for another /span factor), and each doc adds its
    within-bucket cumsum (window partitioned by bucket, bounded rows) to
    its broadcast bucket offset. An ``ORDER BY doc_id ROWS UNBOUNDED
    PRECEDING`` window over the full corpus — the tempting one-liner —
    serializes the entire table through one task at scale.
    """
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {PACK_BUCKET_SPAN}").alias("bucket"),
    )
    bucket_tot = lens.groupBy("bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_off = bucket_tot.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_buckets), F.lit(0)).alias(
            "bucket_offset"
        ),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = lens.join(F.broadcast(bucket_off), "bucket").select(
        "doc_id",
        "n_tokens",
        (
            F.col("bucket_offset")
            + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
        ).alias("start_offset"),
    )
    return placed.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {PACK_SEQ_TOKENS}").alias("first_seq"),
        F.expr(
            f"(start_offset + n_tokens - 1) div {PACK_SEQ_TOKENS}"
        ).alias("last_seq"),
    ).orderBy("doc_id")


QUERIES["pack_training_sequences"] = pack_training_sequences

ORACLE["pack_training_sequences"] = (
    "WITH t AS (SELECT doc_id, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "c AS (SELECT doc_id, n_tokens, "
    "CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
    "AS start_offset FROM t) "
    "SELECT doc_id, n_tokens, start_offset, "
    f"CAST(start_offset // {PACK_SEQ_TOKENS} AS BIGINT) AS first_seq, "
    f"CAST((start_offset + n_tokens - 1) // {PACK_SEQ_TOKENS} AS BIGINT) "
    "AS last_seq FROM c ORDER BY doc_id"
)


# target language mixture (percent) and overall sampling budget (percent
# of the corpus) — the "data mixing" step that turns a raw crawl into a
# training distribution (weights are config; integers keep the
# per-language thresholds exact in both engines)
MIX_WEIGHTS = {"en": 50, "de": 15, "es": 15, "fr": 10, "zh": 10}
MIX_BUDGET_PCT = 60
MIX_MOD = 10_000  # key-space granularity of the deterministic sampler


def sample_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — corpus mixture sampling: resample the corpus toward a
    target LANGUAGE distribution under an overall token budget, with
    deterministic key-modulus membership (same doc kept on every run and
    engine — no train/test churn across pipeline reruns).

    Per language: quota = budget x weight; keep threshold =
    quota/n_docs of the key space, all in INTEGER arithmetic (floats
    would round differently across engines); a doc survives iff
    ``doc_id % MIX_MOD < threshold``. Languages scarcer than their quota
    cap at keep-everything (threshold = MIX_MOD) — the standard
    upsample-by-epochs decision is left to the trainer.

    Scale shape: one tiny per-language count aggregate broadcasts back
    over the scan; membership is a per-row modulus — no shuffle of the
    corpus, no sort, no RNG state."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = n.agg(F.sum("n_docs").alias("total"))
    w = F.coalesce(
        F.element_at(
            F.create_map(
                *[x for k, v in MIX_WEIGHTS.items() for x in (F.lit(k), F.lit(v))]
            ),
            F.col("lang"),
        ),
        F.lit(0),
    )
    quotas = (
        n.crossJoin(F.broadcast(total))
        .withColumn("w", w)
        .withColumn(
            "sample_threshold",
            F.least(
                F.lit(MIX_MOD),
                F.expr(
                    f"((total * {MIX_BUDGET_PCT}) div 100 * w) div 100 "
                    f"* {MIX_MOD} div n_docs"
                ),
            ),
        )
        .select("lang", "n_docs", "sample_threshold")
    )
    kept = (
        docs.join(F.broadcast(quotas), "lang")
        .filter(F.col("doc_id") % MIX_MOD < F.col("sample_threshold"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    return (
        quotas.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "sample_threshold",
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
        )
        .orderBy("lang")
    )


def _mix_weight_case() -> str:
    return (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS.items())
        + " ELSE 0 END"
    )


QUERIES["sample_corpus_mixture"] = sample_corpus_mixture

ORACLE["sample_corpus_mixture"] = (
    "WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents "
    "WHERE lang IS NOT NULL GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM n), "
    "q AS (SELECT lang, n_docs, "
    f"LEAST({MIX_MOD}, ((total * {MIX_BUDGET_PCT}) // 100 "
    f"* ({_mix_weight_case()})) // 100 * {MIX_MOD} // n_docs) "
    "AS sample_threshold FROM n CROSS JOIN tot), "
    "sel AS (SELECT d.lang, COUNT(*) AS n_selected FROM documents d "
    "JOIN q USING (lang) "
    f"WHERE d.doc_id % {MIX_MOD} < q.sample_threshold GROUP BY 1) "
    "SELECT q.lang, q.n_docs, q.sample_threshold, "
    "CAST(COALESCE(sel.n_selected, 0) AS BIGINT) AS n_selected "
    "FROM q LEFT JOIN sel ON q.lang = sel.lang ORDER BY q.lang"
)


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — seeded global corpus shuffle + sharding for training:
    every document gets a deterministic pseudo-random position, expressed
    as (shard_id, pos_in_shard). The shuffle key is ``md5(seed || doc_id)``
    (portable: identical bytes in Spark and DuckDB, so the whole ordering
    is oracle-checked, unlike ``rand()``); the shard is the key's first
    hex digit (16 shards here), and the position is the rank of the key
    within its shard.

    Scale shape: this IS the production pattern for writing shuffled
    training shards — ``repartition(N, shard) + sortWithinPartitions``,
    which Catalyst produces from the rank window below (one hash exchange
    on ``shard_id``, one in-partition sort, one output file per shard).
    There is deliberately NO global row number: a single total order would
    serialize into one task (see ``pack_training_sequences`` for the
    two-level prefix-sum alternative when one global order is truly
    required). Shard count scales with the cluster (16 here; 10k+ at
    100 TB keeps each sort task at one output shard's size).
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    ).withColumn(
        "shard_id", F.ascii(F.substring("shuffle_key", 1, 1)).cast("long")
    )
    w = Window.partitionBy("shard_id").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "shard_id",
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
        "doc_id",
        "shuffle_key",
    )


def vocab_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — tokenizer training, first BPE iteration: corpus-wide
    counts of adjacent character pairs inside alphabetic words (each word
    OCCURRENCE counts, as in real BPE corpus statistics), top 50 pairs.
    The full merge loop re-runs this count after each merge; one
    distributed iteration is the engine-side primitive (the loop itself
    is a driver-side for-loop over ~30k vocab steps in production
    trainers, each a scan + count like this one).

    Plan shape: two codegen'd explodes (words, then pairs via
    ``transform(sequence(...))`` — both JVM expressions, no Python), one
    count aggregate (map-side partials), top-k via TakeOrdered. The
    ``sequence(1, length-1)`` is guarded by its own ``length >= 2`` CASE
    (not just the row filter): Catalyst may evaluate the projection
    around the filter, and an unguarded ``sequence(1, 0)`` counts DOWN
    (CLAUDE.md round-8 analyzer trap).
    """
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    pairs = words.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN "
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), "pair")
        .limit(50)
    )


QUERIES["corpus_shuffle_shards"] = corpus_shuffle_shards
QUERIES["vocab_bpe_pair_counts"] = vocab_bpe_pair_counts

ORACLE["corpus_shuffle_shards"] = (
    "WITH keyed AS (SELECT doc_id, "
    "md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key "
    "FROM documents) "
    "SELECT CAST(ascii(substr(shuffle_key, 1, 1)) AS BIGINT) AS shard_id, "
    "CAST(ROW_NUMBER() OVER ("
    "PARTITION BY substr(shuffle_key, 1, 1) "
    "ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard, "
    "doc_id, shuffle_key FROM keyed"
)

ORACLE["vocab_bpe_pair_counts"] = (
    "WITH words AS (SELECT w FROM documents, "
    "unnest(string_split(lower(text), ' ')) AS t(w) "
    "WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2), "
    "pairs AS (SELECT substr(w, CAST(i AS INT), 2) AS pair "
    "FROM words, unnest(generate_series(1, length(w) - 1)) AS s(i)) "
    "SELECT pair, COUNT(*) AS n_pair FROM pairs "
    "GROUP BY pair ORDER BY n_pair DESC, pair LIMIT 50"
)


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", App. A1.1):
# word count in [50, 100k], mean word length in [3, 10], symbol-to-word
# ratio (# or ...) <= 0.1, >= 80% of words contain an alphabetic char,
# and >= 2 of a small required-stopword set must appear.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_REQUIRED_STOPS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_MIN_REQUIRED_STOPS = 2


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher document-quality ruleset as per-rule boolean
    gates plus the conjunctive pass flag — the canonical cheap filter a
    pre-training pipeline runs before any model-based scoring (distinct
    from ``text.text_quality_score``'s composite: these are the
    REJECTION rules with the paper's thresholds). Every statistic is
    computed from the token ARRAY with higher-order functions — filter /
    transform / aggregate / array_intersect inside whole-stage codegen —
    so the operator is map-only: zero explode, zero shuffle, one pass
    over the scan at any corpus size. NULL text is normalized to '' (no
    NULL-propagation divergence between the engines' size/len of NULL)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda t: t != "",
    )
    stats = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("sum_len"),
        F.size(
            F.filter(toks, lambda t: t.contains("#") | t.contains("..."))
        ).cast("long").alias("n_sym"),
        F.size(
            F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
        ).cast("long").alias("n_alpha"),
        F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPS]),
            )
        ).cast("long").alias("n_req"),
    )
    n = F.col("n")
    # the threshold rules compare in INTEGER space (multiply through by
    # n: mean in [3,10] ⟺ 3n ≤ sum_len ≤ 10n; sym ≤ 0.1 ⟺ 10·n_sym ≤ n;
    # alpha ≥ 0.8 ⟺ 5·n_alpha ≥ 4n) — exact, no FP boundary, and no
    # division that ANSI could abort on: a when()-guarded x/n is NOT
    # safe here, Catalyst's common-subexpression elimination hoists the
    # shared quotient OUT of the guard and evaluates it for n=0 rows
    # (observed on the hostile empty-text doc; CLAUDE.md rule 3). The
    # display ratios use try_divide (NULL at n=0, matching the oracle's
    # CASE).
    mean_len = F.try_divide(F.col("sum_len").cast("double"), n.cast("double"))
    sym_ratio = F.try_divide(F.col("n_sym").cast("double"), n.cast("double"))
    alpha_ratio = F.try_divide(
        F.col("n_alpha").cast("double"), n.cast("double")
    )
    r_words = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r_mean = (
        (n > 0)
        & (F.col("sum_len") >= 3 * n)
        & (F.col("sum_len") <= 10 * n)
    )
    r_sym = (n > 0) & (10 * F.col("n_sym") <= n)
    r_alpha = (n > 0) & (5 * F.col("n_alpha") >= 4 * n)
    r_stops = F.col("n_req") >= GOPHER_MIN_REQUIRED_STOPS
    return stats.select(
        "doc_id",
        F.col("n").alias("n_words"),
        dround(mean_len, 6).alias("mean_word_len"),
        dround(sym_ratio, 6).alias("symbol_ratio"),
        dround(alpha_ratio, 6).alias("alpha_word_ratio"),
        F.col("n_req").alias("n_required_stops"),
        r_words.alias("r_word_count"),
        r_mean.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_alpha.alias("r_alpha_words"),
        r_stops.alias("r_required_stops"),
        (r_words & r_mean & r_sym & r_alpha & r_stops).alias(
            "passes_gopher"
        ),
    )


QUERIES["quality_gopher_rules"] = quality_gopher_rules

ORACLE["quality_gopher_rules"] = (
    "WITH t AS (SELECT doc_id, "
    "list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') "
    "AS toks FROM documents), "
    "s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, "
    "CAST(coalesce(list_aggregate(list_transform(toks, "
    "x -> length(x)), 'sum'), 0) AS BIGINT) AS sum_len, "
    "CAST(len(list_filter(toks, x -> contains(x, '#') "
    "OR contains(x, '...'))) AS BIGINT) AS n_sym, "
    "CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) "
    "AS BIGINT) AS n_alpha, "
    "CAST(len(list_intersect(list_distinct(toks), "
    "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) "
    "AS BIGINT) AS n_req FROM t) "
    "SELECT doc_id, n AS n_words, "
    "CASE WHEN n > 0 THEN ROUND(CAST(sum_len AS DOUBLE) / n, 6) END "
    "AS mean_word_len, "
    "CASE WHEN n > 0 THEN ROUND(CAST(n_sym AS DOUBLE) / n, 6) END "
    "AS symbol_ratio, "
    "CASE WHEN n > 0 THEN ROUND(CAST(n_alpha AS DOUBLE) / n, 6) END "
    "AS alpha_word_ratio, "
    "n_req AS n_required_stops, "
    "(n >= 50 AND n <= 100000) AS r_word_count, "
    "(n > 0 AND sum_len >= 3 * n AND sum_len <= 10 * n) "
    "AS r_mean_word_len, "
    "(n > 0 AND 10 * n_sym <= n) AS r_symbol_ratio, "
    "(n > 0 AND 5 * n_alpha >= 4 * n) AS r_alpha_words, "
    "(n_req >= 2) AS r_required_stops, "
    "((n >= 50 AND n <= 100000) AND "
    "(n > 0 AND sum_len >= 3 * n AND sum_len <= 10 * n) AND "
    "(n > 0 AND 10 * n_sym <= n) AND "
    "(n > 0 AND 5 * n_alpha >= 4 * n) AND "
    "(n_req >= 2)) AS passes_gopher FROM s"
)


# --- Model-based quality classifier (linear, hashed features) --------------

QC_DIM = 64  # hashed feature buckets (the fastText hashing-trick size knob)


def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier shape
    CCNet/FineWeb-style pipelines run after the rule gates: a LINEAR
    model over hashed bag-of-words features, applied corpus-wide.

    Distributed apply shape (the part that matters at 100 TB): the
    weight vector is a ``QC_DIM``-row table BROADCAST to every task;
    per-doc features are one explode → (doc, bucket) count aggregate;
    scoring is a broadcast join + one more doc aggregate — the corpus
    shuffles only on (doc_id, bucket) and doc_id, never on model state.
    Swapping in real trained weights changes ONE table, no plan change.

    Determinism: buckets AND weights derive from portable md5 (weights
    here are a deterministic stand-in for a trained vector, mapped into
    [-1, 1); documented, not hidden), per-token contributions sum as
    scaled int64, and the score/round/label arithmetic is stated
    identically in the oracle — fully hash-checked."""
    from ..functions.numerics import dround
    from .dedup import _spread_if_narrow

    docs = _spread_if_narrow(read_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("qc:"), F.col("token"))), 1, 8), 16, 10)
        .cast("long")
        % QC_DIM
    )
    feats = (
        tok.select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    weights = spark.range(QC_DIM).select(
        F.col("id").alias("b"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            )
            / 1000.0
        ).alias("w"),
    )
    contrib = F.col("cnt") * F.col("w")
    scored = (
        feats.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            (
                F.sum(dround(contrib * 1000000.0, 0).cast("long"))
                .cast("double")
                / 1000000.0
            ).alias("raw"),
        )
    )
    score = F.col("raw") / F.col("n_tokens")
    # dround, not F.round: at sf0.1 a quotient landed exactly on a 6dp
    # half-boundary where F.round's BigDecimal-on-rendered-decimal path
    # rounds opposite to DuckDB's FP ties-away ROUND (round-10 session-4
    # sweep caught it: 0.508313 vs 0.508312). dround bitwise-matches.
    return scored.select(
        "doc_id",
        "n_tokens",
        dround(score, 6).alias("score"),
        (score >= 0).cast("int").alias("keep"),
    ).orderBy("doc_id")


QUERIES["quality_linear_classifier"] = quality_linear_classifier

ORACLE["quality_linear_classifier"] = (
    "WITH tok AS (SELECT doc_id, t.tok AS token FROM "
    "(SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
    "UNNEST(toks) AS t(tok)), "
    "feats AS (SELECT doc_id, "
    "CAST(('0x' || substr(md5('qc:' || token), 1, 8)) AS BIGINT) "
    f"% {QC_DIM} AS b, COUNT(*) AS cnt FROM tok GROUP BY 1, 2), "
    f"weights AS (SELECT b, (CAST(('0x' || substr(md5('w:' || "
    "CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS w "
    f"FROM (SELECT unnest(range(0, {QC_DIM})) AS b)), "
    "scored AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, "
    "CAST(SUM(CAST(ROUND(cnt * w * 1000000.0, 0) AS BIGINT)) AS DOUBLE) "
    "/ 1000000.0 AS raw "
    "FROM feats JOIN weights USING (b) GROUP BY 1) "
    "SELECT doc_id, n_tokens, ROUND(raw / n_tokens, 6) AS score, "
    "CAST(raw / n_tokens >= 0 AS INT) AS keep FROM scored ORDER BY doc_id"
)


# --- DSIR importance resampling (Xie et al. 2023) --------------------------

DSIR_BUCKETS = 128  # hashed n-gram feature buckets
DSIR_TARGET_LANG = "en"  # the "target distribution" slice of the corpus


def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **DSIR** data selection via importance resampling
    (Xie et al. 2023): score every raw document by the log importance
    weight ``Σ_features ln p_target(b) − ln p_raw(b)`` under two hashed
    n-gram bag-of-words models (unigrams + bigrams hashed into
    ``DSIR_BUCKETS`` buckets, add-1 smoothing), then keep the top
    quartile — the published recipe for tilting a web crawl toward a
    target domain (here: the ``lang = 'en'`` slice as the target).

    Distributed shape: BOTH feature distributions come from ONE
    conditional aggregate over the exploded feature stream (target
    counts as a filtered sum — no second corpus pass); totals are a
    1-row broadcast scalar; the 128-row per-bucket log-ratio table
    broadcasts back onto the same stream, and the per-doc score is one
    doc_id aggregate. The corpus shuffles only on (bucket) and
    (doc_id); model state never shuffles. The quartile cut is a window
    over PER-DOC rows (the ``quality_ccnet_buckets`` device — at 100 TB
    the cut becomes one broadcast approx-quantile threshold).

    Determinism: buckets via portable md5; ``ln`` is cross-engine
    stable at 6 dp (surprisal/IDF/PMI precedent); per-feature log
    ratios sum as scaled int64 (``dsum``); ntile runs on the ROUNDED
    score with a doc_id tiebreak — a total order.
    """
    from pyspark.sql.window import Window


    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from .dedup import _spread_if_narrow

    f = _spread_if_narrow(docs).select(
        "doc_id", "lang", F.explode(F.concat(toks, bigrams)).alias("feat")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("feat"))), 1, 8),
            16,
            10,
        ).cast("long")
        % DSIR_BUCKETS
    )
    # collapse the feature stream to per-(doc, bucket) counts ONCE: every
    # downstream consumer (bucket model AND per-doc scoring) derives from
    # this ~docs x 128 table, so the corpus-sized explode+hash subtree is
    # re-executed at most twice (Spark shares no subtrees across the
    # broadcast/shuffle boundary), not once per reference — and all
    # feature multiplicity becomes exact integer cnt arithmetic
    db = (
        f.select("doc_id", "lang", bucket.alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = db.groupBy("b").agg(
        F.sum("cnt").alias("c_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("c_tgt"),
    )
    tot = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    lam = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log(
                (F.col("c_tgt") + 1).cast("double")
                / (F.col("n_tgt") + DSIR_BUCKETS).cast("double")
            )
            - F.log(
                (F.col("c_raw") + 1).cast("double")
                / (F.col("n_raw") + DSIR_BUCKETS).cast("double")
            )
        ).alias("lw"),
    )
    # per-feature scaled-int rounding commutes with the count: every
    # feature in a bucket carries the same lw, so Σ_features round(lw*S)
    # == Σ_buckets cnt * round(lw*S) EXACTLY (integer arithmetic) — the
    # oracle states the per-feature form, this states the grouped form
    from ..functions.numerics import dround

    contrib = F.col("cnt") * dround(
        F.col("lw") * SURPRISAL_SCALE, 0
    ).cast("long")
    scored = (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(contrib).alias("lw_s"),
        )
        # dround outside the agg (dround is not an aggregate): same
        # F.round half-boundary fix as quality_linear_classifier —
        # sf0.1 hit ...5231385e-6 exactly (round-10 session-4 sweep)
        .select(
            "doc_id",
            "n_feats",
            dround(
                F.col("lw_s").cast("double") / SURPRISAL_SCALE, 6
            ).alias("log_weight"),
        )
    )
    wsel = Window.orderBy(F.col("log_weight").desc(), "doc_id")
    return (
        scored.select(
            "doc_id",
            "n_feats",
            "log_weight",
            (F.ntile(4).over(wsel) == 1).cast("int").alias("selected"),
        )
        .orderBy("doc_id")
    )


QUERIES["sample_dsir_importance"] = sample_dsir_importance

_DSIR_SCALE = 100_000_000

ORACLE["sample_dsir_importance"] = (
    "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks "
    "FROM documents), "
    "uni AS (SELECT doc_id, lang, u.tok AS feat FROM t, "
    "UNNEST(toks) AS u(tok)), "
    "bi AS (SELECT doc_id, lang, toks[i + 1] || ' ' || toks[i + 2] AS feat "
    "FROM t, UNNEST(range(0, greatest(len(toks) - 1, 0))) AS u(i)), "
    "f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi), "
    "fb AS (SELECT doc_id, lang, "
    "CAST(('0x' || substr(md5('dsir:' || feat), 1, 8)) AS BIGINT) "
    f"% {DSIR_BUCKETS} AS b FROM f), "
    "counts AS (SELECT b, COUNT(*) AS c_raw, "
    "CAST(SUM(CASE WHEN lang = "
    f"'{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt "
    "FROM fb GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw, "
    "CAST(SUM(c_tgt) AS BIGINT) AS n_tgt FROM counts), "
    "lam AS (SELECT b, "
    f"ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + {DSIR_BUCKETS})) - "
    f"ln(CAST(c_raw + 1 AS DOUBLE) / (n_raw + {DSIR_BUCKETS})) AS lw "
    "FROM counts CROSS JOIN tot), "
    "scored AS (SELECT doc_id, COUNT(*) AS n_feats, "
    f"ROUND(CAST(SUM(CAST(ROUND(lw * {_DSIR_SCALE}) AS BIGINT)) AS DOUBLE) "
    f"/ {_DSIR_SCALE}.0, 6) AS log_weight "
    "FROM fb JOIN lam USING (b) GROUP BY 1) "
    "SELECT doc_id, n_feats, log_weight, "
    "CAST(NTILE(4) OVER (ORDER BY log_weight DESC, doc_id) = 1 AS INT) "
    "AS selected FROM scored ORDER BY doc_id"
)


# --- Broadcast quantile-threshold selection (the 100 TB cut) ---------------

QT_CUT_P = 0.25  # keep the most-fluent quartile (lowest LM surprisal)


def sample_quantile_threshold_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — the **broadcast-threshold selection** shape that
    `quality_ccnet_buckets` / `sample_dsir_importance` docstrings cite
    as the 100 TB replacement for a global ntile sort: compute ONE
    scalar quantile of the per-doc LM score (exact interpolated
    ``percentile`` ≡ DuckDB ``quantile_cont`` — the ``agg_percentiles``
    parity device), broadcast it, and flag each doc against it. No
    global sort, no single-partition window: the cut costs one scalar
    aggregate + a 1-row broadcast join at any corpus size (swap the
    exact percentile for ``approx_percentile`` when the score stream
    itself is too hot — plan shape unchanged).

    Ties at the threshold are INCLUDED (``<=``) in both engines on the
    identically-rounded 6 dp score, so the kept set can exceed p*N —
    the documented, deterministic semantics (ntile splits ties by
    doc_id instead; both are valid cut contracts, this one is the
    shuffle-free one)."""
    s = quality_unigram_surprisal(spark, sf_dir).select(
        "doc_id", "avg_surprisal"
    )
    thr = s.agg(
        F.round(
            F.percentile("avg_surprisal", F.lit(QT_CUT_P)), 6
        ).alias("threshold")
    )
    return (
        s.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "avg_surprisal",
            "threshold",
            (F.col("avg_surprisal") <= F.col("threshold"))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


QUERIES["sample_quantile_threshold_cut"] = sample_quantile_threshold_cut

ORACLE["sample_quantile_threshold_cut"] = (
    f"WITH s AS ({ORACLE['quality_unigram_surprisal']}), "
    f"thr AS (SELECT ROUND(quantile_cont(avg_surprisal, {QT_CUT_P}), 6) "
    "AS threshold FROM s) "
    "SELECT doc_id, avg_surprisal, threshold, "
    "CAST(avg_surprisal <= threshold AS INT) AS keep "
    "FROM s CROSS JOIN thr ORDER BY doc_id"
)


# --- Stupid Backoff bigram LM scoring (Brants et al. 2007) -----------------

SB_ALPHA = 0.4  # the paper's fixed backoff weight


def quality_stupid_backoff_logprob(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — bigram LM scoring with **Stupid Backoff** (Brants et
    al. 2007, "Large Language Models in Machine Translation"): score
    S(w_i|w_{i-1}) = c(w_{i-1} w_i)/c(w_{i-1}) when the bigram was seen,
    else ``SB_ALPHA * c(w_i)/N`` — the smoothing the paper introduced
    BECAUSE it needs no held-out normalization pass and so distributes
    trivially; the published recipe for corpus-scale LM quality scoring
    (upgrades the unigram `quality_unigram_surprisal`).

    Scale shape: bigram and unigram count tables are map-side-combined
    aggregates over the corpus (at web scale they'd be count-thresholded
    like the paper's; the fixture LM is exact); both join back onto the
    per-position bigram stream as BROADCASTs (the fixture vocabulary
    makes them tiny; a production LM probe shards by first token — the
    same keyed equi-join, shuffled instead of broadcast). The corpus
    pays one positional-pair explode and one doc_id aggregate.

    The LM trains on the EVEN-doc_id half and scores EVERY document, so
    all three regimes actually fire on the fixture: seen bigram, backoff
    to a seen unigram, and the OOV floor (an unseen token scores as
    count 1 — the standard floor, documented here because Stupid Backoff
    itself leaves OOV policy to the implementation).

    Determinism: per-position log-scores sum as scaled int64 (``davg``);
    ``ln`` is 6 dp cross-engine stable (surprisal precedent); the
    backoff branch is written ``ln((0.4 * c)/N)`` with identical
    association in both engines. Docs with < 2 tokens have no bigram
    and drop in both engines.
    """
    from .dedup import _spread_if_narrow

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    toks = F.split(F.col("text"), " ")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("prev"),
                F.element_at(toks, i + 2).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    bg = (
        _spread_if_narrow(docs)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    uni = train.select(F.explode(toks).alias("tok"))
    # three consumers (total, cprev, ccur) — checkpoint so the train
    # unigram explode runs once, not once per consumer (round 14)
    cu = (
        uni.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_uni"))
        .localCheckpoint(eager=True)
    )
    total = cu.agg(F.sum("c_uni").alias("n_total"))
    cb = (
        _spread_if_narrow(train)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .agg(F.count(F.lit(1)).alias("c_big"))
    )
    cprev = cu.select(
        F.col("tok").alias("prev"), F.col("c_uni").alias("c_prev")
    )
    ccur = cu.select(
        F.col("tok").alias("cur"), F.col("c_uni").alias("c_cur")
    )
    s = F.when(
        F.col("c_big").isNotNull(),
        F.log(F.col("c_big").cast("double") / F.col("c_prev").cast("double")),
    ).otherwise(
        F.log(
            (
                F.lit(SB_ALPHA)
                * F.coalesce(F.col("c_cur"), F.lit(1)).cast("double")
            )
            / F.col("n_total").cast("double")
        )
    )
    return (
        bg.join(F.broadcast(cb), ["prev", "cur"], "left")
        .join(F.broadcast(cprev), "prev", "left")
        .join(F.broadcast(ccur), "cur", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            dsum_scaled(s, SURPRISAL_SCALE).alias("s_scaled"),
        )
        # dround, not F.round — the per-doc 6dp quotient half-boundary
        # fix (see quality_unigram_surprisal; CLAUDE.md rule 2)
        .select(
            "doc_id",
            "n_bigrams",
            dround(
                F.col("s_scaled").cast("double")
                / SURPRISAL_SCALE
                / F.col("n_bigrams"),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


QUERIES["quality_stupid_backoff_logprob"] = quality_stupid_backoff_logprob

ORACLE["quality_stupid_backoff_logprob"] = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), "
    "bg AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur "
    "FROM t, UNNEST(range(1, greatest(len(toks), 1))) AS u(i)), "
    "uni AS (SELECT u.tok FROM t, UNNEST(toks) AS u(tok) "
    "WHERE doc_id % 2 = 0), "
    "cu AS (SELECT tok, COUNT(*) AS c_uni FROM uni GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_total FROM cu), "
    "cb AS (SELECT prev, cur, COUNT(*) AS c_big FROM bg "
    "WHERE doc_id % 2 = 0 GROUP BY 1, 2), "
    "scored AS (SELECT bg.doc_id, "
    "CASE WHEN cb.c_big IS NOT NULL "
    "THEN ln(CAST(cb.c_big AS DOUBLE) / CAST(cp.c_uni AS DOUBLE)) "
    f"ELSE ln(({SB_ALPHA} * CAST(COALESCE(cc.c_uni, 1) AS DOUBLE)) / "
    "CAST(tot.n_total AS DOUBLE)) END AS s "
    "FROM bg LEFT JOIN cb ON cb.prev = bg.prev AND cb.cur = bg.cur "
    "LEFT JOIN cu cp ON cp.tok = bg.prev "
    "LEFT JOIN cu cc ON cc.tok = bg.cur CROSS JOIN tot) "
    "SELECT doc_id, COUNT(*) AS n_bigrams, "
    f"ROUND({davg_sql('s', SURPRISAL_SCALE)}, 6) AS avg_logprob "
    "FROM scored GROUP BY 1 ORDER BY 1"
)


# --- Sliding-window chunking with overlap ----------------------------------

WIN_TOKENS = 40
WIN_STRIDE = 20  # < WIN_TOKENS -> consecutive windows overlap by 20


def chunk_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **sliding-window chunking with overlap** (stride <
    window), the standard RAG-indexing / long-doc pretraining variant of
    `chunk_documents`: consecutive windows share ``WIN_TOKENS -
    WIN_STRIDE`` tokens so no boundary context is lost. Window count is
    ``1`` for docs that fit, else ``ceil((n - W)/S) + 1`` — the last
    window is allowed to run short rather than re-anchoring to the tail
    (re-anchoring duplicates tail tokens nondeterministically across
    engines; the run-short contract is stated identically in both).

    Same scale shape as `chunk_documents`: pure array arithmetic, a
    codegen'd 1-to-N explode, zero shuffle — scan partitions carry
    straight through. Window-count arithmetic stays in the exact-double
    domain (``ceil`` on counts ≪ 2^53) so both engines agree bit-for-bit.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_wins = (
        F.when(n <= WIN_TOKENS, F.lit(1))
        .otherwise(
            F.ceil((n - WIN_TOKENS) * F.lit(1.0) / WIN_STRIDE).cast("int")
            + 1
        )
        .cast("int")
    )
    w = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), n_wins - 1)).alias("win_id"),
        toks.alias("toks"),
    )
    win = F.slice(
        F.col("toks"), F.col("win_id") * WIN_STRIDE + 1, WIN_TOKENS
    )
    return w.select(
        "doc_id",
        "win_id",
        F.size(win).cast("int").alias("win_tokens"),
        F.array_join(win, " ").alias("win_text"),
    )


QUERIES["chunk_sliding_window"] = chunk_sliding_window

ORACLE["chunk_sliding_window"] = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), "
    "c AS (SELECT doc_id, toks, "
    f"CASE WHEN len(toks) <= {WIN_TOKENS} THEN 1 ELSE "
    f"CAST(CEIL((len(toks) - {WIN_TOKENS}) * 1.0 / {WIN_STRIDE}) "
    "AS BIGINT) + 1 END AS n_wins FROM t), "
    "e AS (SELECT doc_id, toks, unnest(range(0, n_wins)) AS win_id FROM c) "
    "SELECT doc_id, CAST(win_id AS INT) AS win_id, "
    f"CAST(len(toks[win_id * {WIN_STRIDE} + 1 : "
    f"win_id * {WIN_STRIDE} + {WIN_TOKENS}]) AS INT) AS win_tokens, "
    f"array_to_string(toks[win_id * {WIN_STRIDE} + 1 : "
    f"win_id * {WIN_STRIDE} + {WIN_TOKENS}], ' ') AS win_text "
    "FROM e"
)


# --- k-anonymity release (Sweeney 2002) -------------------------------------

K_ANON = 10


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **k-anonymity** release (Sweeney, IJUFKS 2002): every
    published row must belong to a quasi-identifier equivalence class of
    at least ``K_ANON`` records. QIs here are (customer nation,
    market segment); classes below k are GENERALIZED to ``('*', '*')``
    and pooled into one class whose aggregate is recomputed from the
    underlying records (an average-of-averages would leak and be wrong).
    The privacy-side complement to `pii_detect_stats`/`pii_redact`:
    redaction handles direct identifiers, k-anonymity handles
    re-identification by QI intersection.

    Scale shape: class sizes are a tiny two-key aggregate broadcast back
    onto the record stream (the record table never shuffles on QI twice
    for the size probe), then ONE keyed aggregate over the derived
    released keys; the nation dim is an explicit broadcast. Money
    average via scaled-int64 `davg`.
    """
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rec = cust.join(
        F.broadcast(nation),
        cust["c_nationkey"] == nation["n_nationkey"],
    ).select("n_name", "c_mktsegment", "c_acctbal")
    sizes = rec.groupBy("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_n")
    )
    suppressed = F.col("class_n") < K_ANON
    return (
        rec.join(F.broadcast(sizes), ["n_name", "c_mktsegment"])
        .select(
            F.when(suppressed, F.lit("*"))
            .otherwise(F.col("n_name"))
            .alias("qi_nation"),
            F.when(suppressed, F.lit("*"))
            .otherwise(F.col("c_mktsegment"))
            .alias("qi_segment"),
            "c_acctbal",
        )
        .groupBy("qi_nation", "qi_segment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.round(davg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("qi_nation", "qi_segment")
    )


QUERIES["privacy_k_anonymity"] = privacy_k_anonymity

ORACLE["privacy_k_anonymity"] = (
    "WITH rec AS (SELECT n_name, c_mktsegment, c_acctbal "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey), "
    "sz AS (SELECT n_name, c_mktsegment, COUNT(*) AS class_n "
    "FROM rec GROUP BY 1, 2), "
    "rel AS (SELECT "
    f"CASE WHEN sz.class_n < {K_ANON} THEN '*' ELSE rec.n_name END "
    "AS qi_nation, "
    f"CASE WHEN sz.class_n < {K_ANON} THEN '*' ELSE rec.c_mktsegment END "
    "AS qi_segment, rec.c_acctbal "
    "FROM rec JOIN sz USING (n_name, c_mktsegment)) "
    "SELECT qi_nation, qi_segment, "
    "CAST(COUNT(*) AS BIGINT) AS class_size, "
    f"ROUND({davg_sql('c_acctbal')}, 4) AS avg_acctbal "
    "FROM rel GROUP BY 1, 2 ORDER BY 1, 2"
)


L_DIV = 3
_ENT_SCALE = 100_000_000


def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **l-diversity** audit (Machanavajjhala et al., ICDE
    2006): k-anonymity alone fails when a class's SENSITIVE values are
    homogeneous, so each quasi-identifier class (nation) is audited for
    (a) distinct l-diversity — ≥ ``L_DIV`` distinct sensitive values
    (market segment) — and (b) entropy l-diversity,
    ``-Σ p·ln p ≥ ln(l)``, the stricter published variant. Emits the
    per-class audit table release tooling gates on, flags included.

    Determinism: the entropy sum is per-term scaled-int64 (each
    ``-p·ln p`` term rounds to 1e-8 before summing) so engine
    aggregation order cannot move the 6-dp output. Shape: one
    (QI, sensitive) count aggregate, a window total on the QI
    partition, one QI aggregate — two exchanges total, no joins.
    """
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rec = cust.join(
        F.broadcast(nation),
        cust["c_nationkey"] == nation["n_nationkey"],
    ).select("n_name", "c_mktsegment")
    cnts = rec.groupBy("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql.window import Window  # lazy: needs active session

    tot = F.sum("cnt").over(Window.partitionBy("n_name"))
    p = F.col("cnt") / F.col("n")
    term = F.round(-p * F.log(p) * _ENT_SCALE).cast("bigint")
    audited = (
        cnts.select("n_name", "cnt", tot.alias("n"))
        .select("n_name", "n", term.alias("t"))
        .groupBy("n_name")
        .agg(
            F.max("n").alias("class_size"),
            F.count(F.lit(1)).alias("l_distinct"),
            F.round(F.sum("t") / float(_ENT_SCALE), 6).alias("entropy"),
        )
    )
    import math

    return audited.select(
        F.col("n_name").alias("qi_nation"),
        "class_size",
        "l_distinct",
        "entropy",
        (F.col("class_size") >= K_ANON).cast("int").alias("is_k_anonymous"),
        (F.col("l_distinct") >= L_DIV).cast("int").alias("is_l_diverse"),
        (F.col("entropy") >= F.lit(math.log(L_DIV)))
        .cast("int")
        .alias("is_entropy_l_diverse"),
    ).orderBy("qi_nation")


QUERIES["privacy_l_diversity"] = privacy_l_diversity

ORACLE["privacy_l_diversity"] = (
    "WITH rec AS (SELECT n_name, c_mktsegment "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey), "
    "cnts AS (SELECT n_name, c_mktsegment, COUNT(*) AS cnt "
    "FROM rec GROUP BY 1, 2), "
    "w AS (SELECT n_name, cnt, "
    "SUM(cnt) OVER (PARTITION BY n_name) AS n FROM cnts), "
    "t AS (SELECT n_name, n, CAST(ROUND(-(cnt * 1.0 / n) * "
    f"LN(cnt * 1.0 / n) * {_ENT_SCALE}) AS BIGINT) AS t FROM w), "
    "a AS (SELECT n_name, CAST(MAX(n) AS BIGINT) AS class_size, "
    "CAST(COUNT(*) AS BIGINT) AS l_distinct, "
    f"ROUND(SUM(t) / {_ENT_SCALE}.0, 6) AS entropy "
    "FROM t GROUP BY 1) "
    "SELECT n_name AS qi_nation, class_size, l_distinct, entropy, "
    f"CAST(class_size >= {K_ANON} AS INT) AS is_k_anonymous, "
    f"CAST(l_distinct >= {L_DIV} AS INT) AS is_l_diverse, "
    f"CAST(entropy >= LN({L_DIV}) AS INT) AS is_entropy_l_diverse "
    "FROM a ORDER BY 1"
)


T_CLOSE = 0.2


def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **t-closeness** audit (Li, Li & Venkatasubramanian,
    ICDE 2007), completing the k-anonymity → l-diversity → t-closeness
    ladder: a class can be diverse yet still leak if its sensitive
    distribution DIFFERS sharply from the corpus-wide one, so each QI
    class (nation) is scored by the variational distance (= EMD under
    uniform ground distance for categorical attributes) between its
    market-segment distribution and the global distribution, and flagged
    against ``T_CLOSE``.

    Absent-category handling without a class × category cross join:
    ``TV = ½·Σ_all |p_c − q_c|`` decomposes as
    ``½ + ½·Σ_present (|p_c − q_c| − q_c)`` since the absent categories
    contribute exactly ``1 − Σ_present q_c`` — only observed (class,
    segment) rows are ever materialized. Per-term scaled-int64 sums keep
    the 6-dp output independent of aggregation order; the 6-row global
    distribution is a broadcast join.
    """
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rec = cust.join(
        F.broadcast(nation),
        cust["c_nationkey"] == nation["n_nationkey"],
    ).select("n_name", "c_mktsegment")
    cnts = rec.groupBy("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    glob = cnts.groupBy("c_mktsegment").agg(F.sum("cnt").alias("gcnt"))
    from pyspark.sql.window import Window  # lazy: needs active session

    n_total = F.sum("gcnt").over(Window.partitionBy())
    gdist = glob.select(
        "c_mktsegment", (F.col("gcnt") / n_total).alias("q")
    )
    class_n = F.sum("cnt").over(Window.partitionBy("n_name"))
    p = F.col("cnt") / F.col("n")
    term = F.round(
        (F.abs(p - F.col("q")) - F.col("q")) * _ENT_SCALE
    ).cast("bigint")
    tv = F.round(
        0.5 + 0.5 * F.sum("t") / float(_ENT_SCALE), 6
    )
    return (
        cnts.select("n_name", "c_mktsegment", "cnt", class_n.alias("n"))
        .join(F.broadcast(gdist), "c_mktsegment")
        .select("n_name", "n", term.alias("t"))
        .groupBy("n_name")
        .agg(
            F.max("n").alias("class_size"),
            tv.alias("tv_distance"),
        )
        .select(
            F.col("n_name").alias("qi_nation"),
            "class_size",
            "tv_distance",
            (F.col("tv_distance") <= T_CLOSE).cast("int").alias("is_t_close"),
        )
        .orderBy("qi_nation")
    )


QUERIES["privacy_t_closeness"] = privacy_t_closeness

ORACLE["privacy_t_closeness"] = (
    "WITH rec AS (SELECT n_name, c_mktsegment "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey), "
    "cnts AS (SELECT n_name, c_mktsegment, COUNT(*) AS cnt "
    "FROM rec GROUP BY 1, 2), "
    "g AS (SELECT c_mktsegment, SUM(cnt) AS gcnt FROM cnts GROUP BY 1), "
    "gd AS (SELECT c_mktsegment, "
    "CAST(gcnt AS DOUBLE) / SUM(gcnt) OVER () AS q FROM g), "
    "w AS (SELECT n_name, c_mktsegment, cnt, "
    "SUM(cnt) OVER (PARTITION BY n_name) AS n FROM cnts), "
    "t AS (SELECT w.n_name, w.n, "
    "CAST(ROUND((ABS(w.cnt * 1.0 / w.n - gd.q) - gd.q) * "
    f"{_ENT_SCALE}) AS BIGINT) AS t "
    "FROM w JOIN gd USING (c_mktsegment)), "
    "a AS (SELECT n_name, CAST(MAX(n) AS BIGINT) AS class_size, "
    f"ROUND(0.5 + 0.5 * SUM(t) / {_ENT_SCALE}.0, 6) AS tv_distance "
    "FROM t GROUP BY 1) "
    "SELECT n_name AS qi_nation, class_size, tv_distance, "
    f"CAST(tv_distance <= {T_CLOSE} AS INT) AS is_t_close "
    "FROM a ORDER BY 1"
)


DP_EPSILON = 1.0
_DP_DENOM = 4294967296.0  # 2^32


def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — the **differential-privacy release shape** (Dwork et
    al., TCC 2006): per-group counts (sensitivity 1) plus Laplace
    ``(1/ε)`` noise via inverse-CDF,
    ``noise = -(1/ε)·sign(u−½)·ln(1−2|u−½|)``. The uniform draw is
    SEEDED (md5 of the group key) so the release is reproducible and the
    whole pipeline hash-checks cross-engine — the standard test-harness
    posture; a production release swaps the seeded draw for a
    cryptographic RNG (one-line change, same plan) because a
    key-derived seed is NOT private. Epsilon and the true sensitivity
    are emitted alongside so downstream accounting can compose budgets.

    Shape: one count aggregate; the noise term is scalar math on the
    25 aggregated rows. Deterministic: identical md5 → uniform → ln on
    the same doubles in both engines; exposed at 4 dp.
    """
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    counts = (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("qi_nation"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dpseed:"), F.col("qi_nation"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(_DP_DENOM)
    centered = u - 0.5
    noise = (
        -(1.0 / DP_EPSILON)
        * F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )
    return counts.select(
        "qi_nation",
        F.round(F.col("true_n") + noise, 4).alias("noisy_count"),
        F.lit(DP_EPSILON).alias("epsilon"),
        F.lit(1).alias("sensitivity"),
    ).orderBy("qi_nation")


QUERIES["privacy_dp_noisy_counts"] = privacy_dp_noisy_counts

ORACLE["privacy_dp_noisy_counts"] = (
    "WITH c AS (SELECT n_name AS qi_nation, COUNT(*) AS true_n "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1), "
    "d AS (SELECT qi_nation, true_n, "
    "((CAST(('0x' || substr(md5('dpseed:' || qi_nation), 1, 8)) "
    f"AS BIGINT) + 0.5) / {_DP_DENOM}) - 0.5 AS ctr FROM c) "
    "SELECT qi_nation, "
    f"ROUND(true_n + (-(1.0 / {DP_EPSILON}) * SIGN(ctr) * "
    "LN(1.0 - 2.0 * ABS(ctr))), 4) AS noisy_count, "
    f"{DP_EPSILON} AS epsilon, 1 AS sensitivity "
    "FROM d ORDER BY 1"
)


# --- Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995) ----------

KN_D = 0.75  # the standard absolute-discount (Chen & Goodman 1999 default)


def quality_kneser_ney_logprob(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — bigram LM scoring with **interpolated Kneser-Ney
    smoothing** (Kneser & Ney, ICASSP 1995; the interpolated form and
    D=0.75 default per Chen & Goodman, CSL 1999) — the
    quality-over-speed counterpart of `quality_stupid_backoff_logprob`
    (Stupid Backoff is what Brants et al. fall back to when KN's
    normalization pass is too expensive; at filter-model scale KN is
    the stronger scorer and still two corpus aggregates):

        P(w|v) = max(c(v,w) - D, 0)/c(v) + D·N1+(v,·)/c(v) · Pcont(w)
        Pcont(w) = N1+(·,w) / |distinct bigram types|

    The continuation probability — KN's insight — scores a word by how
    many CONTEXTS it follows, not how often it occurs ("Francisco" is
    frequent but only ever follows "San").

    Model tables (trained on the EVEN-doc_id half, scoring every doc —
    the Stupid Backoff split, so seen/backoff/OOV regimes all fire):
    unigram counts, bigram counts, and the two type-count marginals
    N1+(v,·) / N1+(·,w) — all map-side-combined aggregates over one
    shingle-free bigram explode, joined back onto the scoring stream as
    BROADCASTs (production shards by first token — same equi-joins,
    shuffled). Explicit floor policy (KN leaves OOV to the
    implementation, like Stupid Backoff): unseen ``prev`` scores the
    pure continuation probability; a token with no continuation /
    context count scores with type count 1.

    Determinism: the probability is assembled in DOUBLE with IDENTICAL
    association in both engines (``max(c-D,0)/c_prev + (D·n1p/c_prev)
    · pc``), ``ln`` is 6 dp cross-engine stable (surprisal precedent),
    per-doc sums ride scaled int64, and the final per-doc quotient
    rounds via ``dround`` (CLAUDE.md rule 2). Docs with < 2 tokens
    drop in both engines.
    """
    from .dedup import _spread_if_narrow

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    toks = F.split(F.col("text"), " ")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("prev"),
                F.element_at(toks, i + 2).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    bg = (
        _spread_if_narrow(docs)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    cu = (
        train.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    cb = (
        _spread_if_narrow(train)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .agg(F.count(F.lit(1)).alias("c_big"))
        # four consumers below (two marginals, the type total, the
        # broadcast join) — checkpoint so the train-half explode runs
        # once, not once per consumer (round 14; 8.0 -> ~2 s at 30x)
        .localCheckpoint(eager=True)
    )
    # type-count marginals off the bigram TYPE table (cb rows are the
    # distinct types, so these are dim-sized aggregates of a dim table)
    n1p_prev = cb.groupBy("prev").agg(F.count(F.lit(1)).alias("n1p_fol"))
    n1p_cur = cb.groupBy("cur").agg(F.count(F.lit(1)).alias("n1p_ctx"))
    n_types = cb.agg(F.count(F.lit(1)).alias("n_types"))
    cprev = cu.select(F.col("tok").alias("prev"), F.col("c_uni").alias("c_prev"))

    pc = (
        F.coalesce(F.col("n1p_ctx"), F.lit(1)).cast("double")
        / F.col("n_types").cast("double")
    )
    p_seen_prev = (
        F.greatest(
            F.coalesce(F.col("c_big"), F.lit(0)).cast("double") - KN_D,
            F.lit(0.0),
        )
        / F.col("c_prev").cast("double")
        + (
            F.lit(KN_D)
            * F.coalesce(F.col("n1p_fol"), F.lit(1)).cast("double")
            / F.col("c_prev").cast("double")
        )
        * pc
    )
    s = F.when(F.col("c_prev").isNotNull(), F.log(p_seen_prev)).otherwise(
        F.log(pc)
    )
    return (
        bg.join(F.broadcast(cb), ["prev", "cur"], "left")
        .join(F.broadcast(cprev), "prev", "left")
        .join(F.broadcast(n1p_prev), "prev", "left")
        .join(F.broadcast(n1p_cur), "cur", "left")
        .crossJoin(F.broadcast(n_types))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            dsum_scaled(s, SURPRISAL_SCALE).alias("s_scaled"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            dround(
                F.col("s_scaled").cast("double")
                / SURPRISAL_SCALE
                / F.col("n_bigrams"),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


QUERIES["quality_kneser_ney_logprob"] = quality_kneser_ney_logprob

ORACLE["quality_kneser_ney_logprob"] = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), "
    "bg AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur "
    "FROM t, UNNEST(range(1, greatest(len(toks), 1))) AS u(i)), "
    "cu AS (SELECT u.tok, COUNT(*) AS c_uni FROM t, UNNEST(toks) AS u(tok) "
    "WHERE doc_id % 2 = 0 GROUP BY 1), "
    "cb AS (SELECT prev, cur, COUNT(*) AS c_big FROM bg "
    "WHERE doc_id % 2 = 0 GROUP BY 1, 2), "
    "n1f AS (SELECT prev, COUNT(*) AS n1p_fol FROM cb GROUP BY 1), "
    "n1c AS (SELECT cur, COUNT(*) AS n1p_ctx FROM cb GROUP BY 1), "
    "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM cb), "
    "scored AS (SELECT bg.doc_id, "
    "CASE WHEN cp.c_uni IS NOT NULL THEN "
    f"ln(greatest(CAST(COALESCE(cb.c_big, 0) AS DOUBLE) - {KN_D}, 0.0) "
    "/ CAST(cp.c_uni AS DOUBLE) "
    f"+ ({KN_D} * CAST(COALESCE(n1f.n1p_fol, 1) AS DOUBLE) "
    "/ CAST(cp.c_uni AS DOUBLE)) "
    "* (CAST(COALESCE(n1c.n1p_ctx, 1) AS DOUBLE) "
    "/ CAST(nt.n_types AS DOUBLE))) "
    "ELSE ln(CAST(COALESCE(n1c.n1p_ctx, 1) AS DOUBLE) "
    "/ CAST(nt.n_types AS DOUBLE)) END AS s "
    "FROM bg LEFT JOIN cb ON cb.prev = bg.prev AND cb.cur = bg.cur "
    "LEFT JOIN cu cp ON cp.tok = bg.prev "
    "LEFT JOIN n1f ON n1f.prev = bg.prev "
    "LEFT JOIN n1c ON n1c.cur = bg.cur CROSS JOIN nt) "
    "SELECT doc_id, COUNT(*) AS n_bigrams, "
    f"ROUND({davg_sql('s', SURPRISAL_SCALE)}, 6) AS avg_logprob "
    "FROM scored GROUP BY 1 ORDER BY 1"
)


# --- iterative BPE merge learning (Sennrich, Haddow & Birch, ACL 2016) -------

BPE_MERGES = 6  # unrolled in the oracle; production trainers run ~30k


def vocab_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **tokenizer training, the full BPE merge loop**
    (Sennrich, Haddow & Birch, ACL 2016 §3.2): starting from the
    character-split word-frequency table, repeat ``BPE_MERGES`` times —
    count adjacent symbol pairs weighted by word frequency, merge the
    most frequent pair (ties: lexicographically smallest) in every
    word, greedy left-to-right non-overlapping. Returns the learned
    merge table `(merge_rank, left_sym, right_sym, merged,
    weighted_count)` — the artifact a BPE tokenizer ships.
    `vocab_bpe_pair_counts` is iteration 1's count stage; this is the
    whole trainer.

    The **collapse-first discipline** (CLAUDE.md rule 5) is what makes
    an iterative trainer sane at 100 TB: the corpus-sized work is ONE
    word-count aggregate; every merge iteration then runs on the
    distinct-word vocab table (bounded by vocabulary, not corpus size).
    Each iteration is: pair explode + sum (map-side partials) → 1-row
    TakeOrdered argmax → broadcast-crossJoin of that single row into a
    symbol rewrite — no collect(), the argmax stays distributed. The
    symbol sequence is carried as a `|s1||s2||…|`-delimited string so
    the merge is ONE `replace()` call, whose left-to-right
    non-overlapping scan is exactly BPE's greedy merge semantic in both
    engines (each symbol carries its own delimiters, so matches can't
    chain through a shared separator). Lineage is cut per round with
    `localCheckpoint(eager=True)` — the vocab is referenced twice per
    round (pair count + rewrite), which doubles the logical plan per
    iteration if left uncut (the round-12 connected-components lesson).

    vs reference: no analogue (`dashboard_nfp.py` has no text surface).
    """
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq")).select(
        F.col("w").alias("word"),
        "freq",
        F.concat(
            F.lit("|"),
            F.array_join(F.expr("regexp_extract_all(w, '(.)', 1)"), "||"),
            F.lit("|"),
        ).alias("syms"),
    )
    vocab = vocab.localCheckpoint(eager=True)

    merges = []
    empty_pairs = F.array().cast("array<struct<l:string,r:string>>")
    for k in range(1, BPE_MERGES + 1):
        arr = F.split(
            F.expr("substring(syms, 2, length(syms) - 2)"), r"\|\|"
        )
        # guard the index-building transform itself (rule 3): Catalyst
        # may evaluate the projection around any row filter
        pairs_col = F.when(
            F.size(arr) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("l"),
                    F.element_at(arr, i + 1).alias("r"),
                ),
            ),
        ).otherwise(empty_pairs)
        pc = (
            vocab.select("freq", F.explode(pairs_col).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pc.orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        merges.append(best.select(F.lit(k).cast("int").alias("merge_rank"), "l", "r", "cnt"))
        vocab = (
            vocab.crossJoin(
                F.broadcast(
                    best.select(F.col("l").alias("m_l"), F.col("r").alias("m_r"))
                )
            )
            .select(
                "word",
                "freq",
                F.replace(
                    F.col("syms"),
                    F.concat(
                        F.lit("|"), "m_l", F.lit("||"), "m_r", F.lit("|")
                    ),
                    F.concat(F.lit("|"), "m_l", F.col("m_r"), F.lit("|")),
                ).alias("syms"),
            )
            .localCheckpoint(eager=True)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.select(
        "merge_rank",
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.concat("l", "r").alias("merged"),
        F.col("cnt").alias("weighted_count"),
    ).orderBy("merge_rank")


QUERIES["vocab_bpe_learn_merges"] = vocab_bpe_learn_merges


def _bpe_oracle_sql() -> str:
    """Unrolled-CTE twin of the merge loop: v0 = char-split vocab, then
    per iteration pc_k (pair counts) -> b_k (argmax) -> v_k (REPLACE
    rewrite; same greedy left-to-right semantic as Spark's replace())."""
    ctes = [
        "v0 AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq, "
        "'|' || array_to_string(regexp_extract_all(w, '.'), '||') || '|' "
        "AS syms FROM (SELECT w FROM documents, "
        "unnest(string_split(lower(text), ' ')) AS t(w) "
        "WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2) "
        "GROUP BY 1)"
    ]
    for k in range(1, BPE_MERGES + 1):
        p = k - 1
        ctes.append(
            f"pc{k} AS (SELECT a[CAST(i AS INT)] AS l, "
            f"a[CAST(i AS INT) + 1] AS r, "
            f"CAST(SUM(freq) AS BIGINT) AS cnt FROM "
            f"(SELECT freq, string_split(substr(syms, 2, "
            f"length(syms) - 2), '||') AS a FROM v{p}), "
            f"unnest(CASE WHEN len(a) >= 2 THEN range(1, len(a)) "
            f"ELSE [] END) AS u(i) GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{k} AS (SELECT l, r, cnt FROM pc{k} "
            f"ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"v{k} AS (SELECT word, freq, REPLACE(syms, "
            f"'|' || b.l || '||' || b.r || '|', "
            f"'|' || b.l || b.r || '|') AS syms FROM v{p}, b{k} b)"
        )
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, cnt AS weighted_count FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return (
        "WITH " + ", ".join(ctes) + " SELECT * FROM (" + union
        + ") ORDER BY merge_rank"
    )


ORACLE["vocab_bpe_learn_merges"] = _bpe_oracle_sql()


# --- Local differential privacy: randomized response -------------------------------------

RR_KEEP_NUM, RR_KEEP_DEN = 3, 4  # keep probability p = 3/4


def privacy_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """North-star — **randomized response** (Warner 1965; the local-DP
    mechanism RAPPOR built on): each order reports its finished bit
    TRUTHFULLY with probability p = 3/4 and FLIPPED otherwise (ε =
    ln(p/(1−p)) = ln 3 local DP), and the aggregator debiases the
    observed rate with π̂ = (p̂_obs − (1−p))/(2p−1). Completes the
    privacy pack's spectrum: k-anonymity/l-diversity/t-closeness
    (syntactic), `privacy_dp_noisy_counts` (central DP), and now LOCAL
    DP — the regime where the collector never sees a true bit. The
    true rate is emitted beside the estimate so the debiasing error is
    measurable on the fixture (in production the true column does not
    exist — that is the point).

    Determinism: the "coin" is a portable salted md5 (% 4 == 0 flips —
    exactly 1−p), so both engines flip the identical rows; all counts
    are exact integers and the estimator is one fixed-shape expression
    per group, `dround` 6.

    Scale: one map-side-combinable conditional aggregate over orders;
    5-row algebra."""
    orders = read_table(spark, sf_dir, "orders")
    flip = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("rr:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % RR_KEEP_DEN
        == 0
    )
    true_bit = (F.col("o_orderstatus") == "F").cast("int")
    reported = F.when(flip, 1 - true_bit).otherwise(true_bit)
    g = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(true_bit).cast("long").alias("s_true"),
        F.sum(reported).cast("long").alias("s_rep"),
    )
    n_d = F.col("n").cast("double")
    p_obs = F.col("s_rep").cast("double") / n_d
    p_true = F.col("s_true").cast("double") / n_d
    est = (p_obs - F.lit(0.25)) / F.lit(0.5)
    return (
        g.filter(F.col("n") > 0)
        .select(
            "priority",
            F.col("n").alias("n_orders"),
            dround(p_true, 6).alias("true_rate"),
            dround(p_obs, 6).alias("reported_rate"),
            dround(est, 6).alias("debiased_estimate"),
            dround(F.abs(est - p_true), 6).alias("abs_error"),
        )
        .orderBy("priority")
    )


QUERIES["privacy_randomized_response"] = privacy_randomized_response

ORACLE["privacy_randomized_response"] = (
    "WITH b AS (SELECT o_orderpriority AS priority, "
    "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS t, "
    "CAST(('0x' || substr(md5('rr:' || CAST(o_orderkey AS VARCHAR)), "
    f"1, 8)) AS BIGINT) % {RR_KEEP_DEN} = 0 AS flip FROM orders), "
    "g AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(t) AS BIGINT) AS s_true, "
    "CAST(SUM(CASE WHEN flip THEN 1 - t ELSE t END) AS BIGINT) "
    "AS s_rep FROM b GROUP BY 1) "
    "SELECT priority, n AS n_orders, "
    "ROUND(CAST(s_true AS DOUBLE) / CAST(n AS DOUBLE), 6) AS true_rate, "
    "ROUND(CAST(s_rep AS DOUBLE) / CAST(n AS DOUBLE), 6) "
    "AS reported_rate, "
    "ROUND((CAST(s_rep AS DOUBLE) / CAST(n AS DOUBLE) - 0.25) / 0.5, 6) "
    "AS debiased_estimate, "
    "ROUND(ABS((CAST(s_rep AS DOUBLE) / CAST(n AS DOUBLE) - 0.25) / 0.5 "
    "- CAST(s_true AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS abs_error "
    "FROM g WHERE n > 0 ORDER BY priority"
)
