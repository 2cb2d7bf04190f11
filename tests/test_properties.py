"""Property-based tests (SURVEY §5.2 item 4) for algebraic identities the
engine relies on. Few examples per property — each example runs Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.numerics import (
    descale,
    dsum,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.timeparts import (
    month_start,
    monthly_partials,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.io import upsert_by_key

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

kv_lists = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-1000, 1000)), max_size=12
)


@given(target=kv_lists, updates=kv_lists)
@_settings
def test_upsert_idempotent_and_total(spark, target, updates):
    t = spark.createDataFrame(target, "k long, v long") if target else (
        spark.createDataFrame([], "k long, v long")
    )
    u = spark.createDataFrame(updates, "k long, v long") if updates else (
        spark.createDataFrame([], "k long, v long")
    )
    once = upsert_by_key(t, u, ["k"], order_col="v")
    rows1 = sorted((r["k"], r["v"]) for r in once.collect())
    # exactly one row per key, keys = union of inputs
    assert len({k for k, _ in rows1}) == len(rows1)
    assert {k for k, _ in rows1} == {k for k, _ in target} | {
        k for k, _ in updates
    }
    # applying the same updates again changes nothing
    rows2 = sorted(
        (r["k"], r["v"]) for r in upsert_by_key(once, u, ["k"], order_col="v").collect()
    )
    assert rows1 == rows2


@given(a=kv_lists, b=kv_lists)
@_settings
def test_group_sum_distributes_over_union(spark, a, b):
    schema = "k long, v long"
    da = spark.createDataFrame(a, schema) if a else spark.createDataFrame([], schema)
    db = spark.createDataFrame(b, schema) if b else spark.createDataFrame([], schema)
    unioned = (
        da.unionByName(db).groupBy("k").agg(F.sum("v").alias("s")).collect()
    )
    sa = {r["k"]: r["s"] for r in da.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    sb = {r["k"]: r["s"] for r in db.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    expect = {k: sa.get(k, 0) + sb.get(k, 0) for k in set(sa) | set(sb)}
    assert {r["k"]: r["s"] for r in unioned} == expect


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=12), min_size=1, max_size=8
    )
)
@_settings
def test_dedup_exact_idempotent_and_partitioning(spark, texts):
    """Dedup is a partition of the input: group sizes sum to the row count,
    and deduping the keepers again is the identity."""
    from pyspark.sql import functions as F
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.dedup import (
        dedup_exact,
    )

    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = dedup_exact(spark, d).collect()
    assert sum(r["n_copies"] for r in out) == len(texts)
    keepers = {r["keeper_doc_id"] for r in out}
    assert len(keepers) == len(out)  # one keeper per group
    # keepers' texts are pairwise distinct after normalization
    norm = (
        df.filter(F.col("doc_id").isin(*keepers))
        .select(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
        .distinct()
        .count()
    )
    assert norm == len(keepers)


@given(drop_month=st.integers(2, 11))
@_settings
def test_gap_fill_reconstructs_dropped_month(spark, drop_month):
    """Forward fill restores any single dropped interior month with the
    previous month's value (direct property of last_value ignoreNulls)."""
    import datetime as dt
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = [(dt.datetime(2020, m, 1), float(100 + m)) for m in range(1, 13)]
    df = spark.createDataFrame(rows, "ms timestamp, total double")
    observed = df.filter(F.month("ms") != drop_month)
    bounds = df.agg(F.min("ms").alias("lo"), F.max("ms").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))).alias("ms")
    )
    w = Window.orderBy("ms").rowsBetween(Window.unboundedPreceding, 0)
    filled = {
        r["ms"].month: r["f"]
        for r in spine.join(observed, "ms", "left")
        .select("ms", F.last("total", ignorenulls=True).over(w).alias("f"))
        .collect()
    }
    assert filled[drop_month] == 100 + drop_month - 1  # carried from prior


@given(vals=st.lists(st.integers(1, 10**6), min_size=1, max_size=15))
@_settings
def test_pct_change_reconstructs_series(spark, vals):
    """Inverse property: v[i] = v[i-1] * (1 + pct[i]/100)."""
    import datetime as dt
    from pyspark.sql.window import Window
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.timeparts import (
        pct_change,
    )

    rows = [(dt.datetime(2020, 1, 1) + dt.timedelta(days=i), float(v))
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "d timestamp, v double")
    out = (
        df.select("d", "v", pct_change(F.col("v"), Window.orderBy("d")).alias("p"))
        .orderBy("d")
        .collect()
    )
    for prev, cur in zip(out, out[1:]):
        assert abs(prev["v"] * (1 + cur["p"] / 100.0) - cur["v"]) < 1e-6 * max(
            1.0, cur["v"]
        )


@given(rows=kv_lists, n_salts=st.integers(2, 8))
@_settings
def test_salted_two_phase_agg_equals_plain(spark, rows, n_salts):
    """Salting must change physics, never results: groupBy(key, salt) then
    merge == plain groupBy, for any salt count."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.skew import (
        with_salt,
    )

    df = (
        spark.createDataFrame(rows, "k long, v long")
        if rows
        else spark.createDataFrame([], "k long, v long")
    )
    plain = {
        (r["k"]): (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    partial = (
        with_salt(df, n_salts)
        .groupBy("k", "__salt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    merged = {
        (r["k"]): (r["n"], r["s"])
        for r in partial.groupBy("k")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .collect()
    }
    assert plain == merged


event_lists = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 10_000)), min_size=0, max_size=20
)


@given(purchases=event_lists, clicks=event_lists)
@_settings
def test_bucketed_interval_join_equals_theta_join(spark, purchases, clicks):
    """The two-bucket explode equi-join must produce exactly the pairs of
    the naive theta join (click strictly before, within the window)."""
    win = 1000  # "1 hour" in abstract time units
    p = (
        spark.createDataFrame(
            [(u, t, i) for i, (u, t) in enumerate(purchases)],
            "user long, pt long, pid long",
        )
        if purchases
        else spark.createDataFrame([], "user long, pt long, pid long")
    )
    c = (
        spark.createDataFrame(clicks, "user long, ct long")
        if clicks
        else spark.createDataFrame([], "user long, ct long")
    )
    theta = (
        p.join(c, "user")
        .filter((F.col("ct") < F.col("pt")) & (F.col("ct") >= F.col("pt") - win))
        .groupBy("pid")
        .count()
    )
    cx = c.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("ct") / win), F.floor(F.col("ct") / win) + 1
            )
        ),
    )
    px = p.withColumn("bucket", F.floor(F.col("pt") / win))
    bucketed = (
        px.join(cx, ["user", "bucket"])
        .filter((F.col("ct") < F.col("pt")) & (F.col("ct") >= F.col("pt") - win))
        .groupBy("pid")
        .count()
    )
    assert sorted(map(tuple, theta.collect())) == sorted(
        map(tuple, bucketed.collect())
    )


def test_nearest_long_away_matches_c_round_on_edges(spark):
    """_nearest_long_away must equal C/DuckDB std::round on every double,
    including the FP-carry edge the naive floor(x+0.5) gets wrong: for the
    largest double below n+0.5 the addition rounds UP (0.49999999999999994
    + 0.5 == 1.0) while std::round gives n. ADVICE r4 item."""
    import math

    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.numerics import (
        _nearest_long_away,
    )

    def c_round(t: float) -> int:
        if t < 0:
            return -c_round(-t)
        fl = math.floor(t)
        return fl + (1 if t - fl >= 0.5 else 0)

    vals = [
        0.49999999999999994,  # nextafter(0.5, 0): the carry edge
        -0.49999999999999994,
        1.4999999999999998,  # nextafter(1.5, 0)
        0.5, -0.5, 1.5, 2.5, -2.5,  # true ties -> away from zero
        4503599627370494.5,  # largest .5-tie below 2^52
        1000000000000000.5,
        4503599627370497.0,  # > 2^52: doubles are integers
        1234567.89, 2.675, 0.7, -0.7, 0.0, -0.0, 1e11,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = df.select("x", _nearest_long_away(F.col("x")).alias("r")).collect()
    for row in out:
        assert row.r == c_round(row.x), (repr(row.x), row.r, c_round(row.x))


def test_layout_dir_distinct_for_same_basename(tmp_path):
    """Two sf_dirs sharing a basename must not share a layout directory
    (ADVICE r4: basename-only tags silently overwrite)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.derived import (
        derived_path,
    )

    a = tmp_path / "a" / "sf0.01"
    b = tmp_path / "b" / "sf0.01"
    kind = ("orders_by_year", ("orders",))
    assert derived_path(str(a), *kind) != derived_path(str(b), *kind)


# micros epochs covering 1900-2100 wall range plus the negative-epoch edge
_epochs = st.lists(
    st.integers(min_value=-2_208_988_800_000_000, max_value=4_102_444_800_000_000),
    min_size=1,
    max_size=24,
)


@given(us=_epochs, tz=st.sampled_from(
    ["UTC", "America/New_York", "Asia/Kolkata", "Pacific/Kiritimati"]
))
@_settings
def test_epoch_ntz_roundtrip_is_exact_under_any_session_tz(spark, us, tz):
    """ntz_from_epoch_micros / epoch_micros_from_ntz must be exact
    inverses at microsecond precision for ANY epoch and ANY session
    timezone — including half-hour-offset (Kolkata) and UTC+14
    (Kiritimati) zones and pre-1970 epochs. This is the foundation the
    tz-independent event-time decode rests on (CLAUDE.md rule 6a)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.timeparts import (
        epoch_micros_from_ntz,
        ntz_from_epoch_micros,
    )
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", tz)
        df = spark.createDataFrame([(v,) for v in us], "us long")
        rows = df.select(
            "us",
            epoch_micros_from_ntz(ntz_from_epoch_micros("us")).alias("back"),
        ).collect()
        assert all(r.back == r.us for r in rows), [
            (r.us, r.back) for r in rows if r.back != r.us
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_pack_offsets_contiguous_and_total(spark):
    """pack_training_sequences invariants: offsets start at 0, are
    contiguous in doc_id order (start[i+1] = start[i] + len[i] — the
    two-level prefix sum reconstructs the sequential scan exactly), and
    the block range per doc covers exactly its token span."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.llm_prep import (
        PACK_SEQ_TOKENS,
        pack_training_sequences,
    )

    rows = pack_training_sequences(spark, "/root/testdata/sf0.001").collect()
    assert rows[0]["start_offset"] == 0
    run = 0
    for r in rows:
        assert r["start_offset"] == run, (r, run)
        assert r["first_seq"] == r["start_offset"] // PACK_SEQ_TOKENS
        assert (
            r["last_seq"]
            == (r["start_offset"] + r["n_tokens"] - 1) // PACK_SEQ_TOKENS
        )
        run += r["n_tokens"]


def test_bitmap_prefilter_equals_plain_semi_join(spark):
    """The word->mask bitmap filter is EXACT: the operator's per-year
    aggregate must equal the same aggregate over a plain semi-join."""
    from pyspark.sql import functions as F

    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.numerics import (
        dsum,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.joins import (
        join_bitmap_prefiltered,
    )

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in join_bitmap_prefiltered(spark, sf).collect()]
    orders = read_table(spark, sf, "orders")
    cust = (
        read_table(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    expected = [
        tuple(r)
        for r in orders.join(cust, "o_custkey", "left_semi")
        .groupBy(F.year("o_orderdate").cast("int").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dsum("o_totalprice"), 4).alias("total"),
        )
        .orderBy("year")
        .collect()
    ]
    assert got == expected


def test_corpus_shuffle_shards_invariants(spark):
    """Seeded shuffle: deterministic across runs, every doc placed exactly
    once, positions contiguous 1..n within each shard, and the shard key
    actually derived from the md5 shuffle key's first hex digit."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.llm_prep import (
        corpus_shuffle_shards,
    )

    sf = "/root/testdata/sf0.001"
    rows = corpus_shuffle_shards(spark, sf).collect()
    again = corpus_shuffle_shards(spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    docs = {r["doc_id"] for r in rows}
    assert len(docs) == len(rows)  # one placement per doc
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert r["shard_id"] == ord(r["shuffle_key"][0])
        by_shard.setdefault(r["shard_id"], []).append(r["pos_in_shard"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_winsorize_clip_bounds(spark):
    """Winsorized mean lies within the clip bounds and the clip counts
    equal k on both tails (rank-based winsorization clamps exactly k rows
    per side by construction)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        norm_winsorize_clip,
    )

    rows = norm_winsorize_clip(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["clip_lo"] <= r["winsorized_mean"] <= r["clip_hi"]
        assert r["n_clipped_low"] == r["k_clip"]
        assert r["n_clipped_high"] == r["k_clip"]


def test_linear_trend_exact_on_crafted_series(spark, tmp_path):
    """agg_linear_trend must recover an exactly-linear series' slope and
    base-month intercept to the rounding digit (closed-form OLS on a
    noiseless line is exact), including a flat segment (slope 0)."""
    import datetime as dt

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        agg_linear_trend,
    )

    rows = []
    k = 0
    for i in range(24):  # Jan 1995 .. Dec 1996, x = 0..23
        y, m = divmod(i, 12)
        d = dt.datetime(1995 + y, m + 1, 1)
        # 'LIN': one order/month, total = 1000 + 2.5 * x (exact line)
        rows.append((k := k + 1, 1, "F", 1000.0 + 2.5 * i, d, "LIN"))
        # 'FLAT': two orders/month summing to a constant 500
        rows.append((k := k + 1, 1, "F", 200.0, d, "FLAT"))
        rows.append((k := k + 1, 1, "F", 300.0, d, "FLAT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["o_orderpriority"]: r
        for r in agg_linear_trend(spark, str(tmp_path)).collect()
    }
    assert got["LIN"]["slope_per_month"] == 2.5
    assert got["LIN"]["intercept_at_base"] == 1000.0
    assert got["FLAT"]["slope_per_month"] == 0.0
    assert got["FLAT"]["intercept_at_base"] == 500.0


@given(
    events=st.lists(
        # (user, offset-steps): offsets are multiples of 600 s so gaps of
        # EXACTLY 30 minutes (3 steps) occur often — the >= boundary is
        # the bug-prone edge of the gaps-and-islands rule
        st.tuples(st.integers(1, 3), st.integers(0, 300)),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_sessionize_batch_matches_python_reference(spark, events):
    """The round-10 headline events operator against a from-scratch
    reference: per-user sessions split on gap >= 30 min, session stats
    (start, end, count) must match exactly — including duplicate
    timestamps (gap 0) and the exact-1800 s boundary (new session)."""
    import datetime as dt
    import tempfile

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.custom_udf import (
        sessionize_batch,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=600 * s), u, "view", 1.0, "{}")
        for i, (u, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )

    # pure-python reference: sort per user, split on gap >= 1800 s
    ref = []
    by_user: dict[int, list[dt.datetime]] = {}
    for _i, ts, u, *_ in rows:
        by_user.setdefault(u, []).append(ts)
    for u, tss in by_user.items():
        tss.sort()
        cur = [tss[0]]
        for prev, nxt in zip(tss, tss[1:]):
            if (nxt - prev).total_seconds() >= 1800:
                ref.append((u, cur[0], cur[-1], len(cur)))
                cur = [nxt]
            else:
                cur.append(nxt)
        ref.append((u, cur[0], cur[-1], len(cur)))

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = [
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in sessionize_batch(spark, d).collect()
        ]
    assert sorted(got) == sorted(ref)


def test_bm25_matches_python_reference(spark):
    """text_bm25_topk vs a from-scratch pure-python BM25 over the same
    fixture corpus: same candidates, same scores to 6 dp, same top-k
    order (rounded-score desc, doc_id tiebreak)."""
    import math

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_TERMS,
        BM25_TOPK,
        text_bm25_topk,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table

    sf = "/root/testdata/sf0.001"
    docs = [
        (r["doc_id"], r["text"].split(" "))
        for r in read_table(spark, sf, "documents").collect()
    ]
    n_docs = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n_docs
    cand = {
        did: (len(toks), {t: toks.count(t) for t in BM25_QUERY_TERMS})
        for did, toks in docs
        if any(t in toks for t in BM25_QUERY_TERMS)
    }
    df = {
        t: sum(1 for _, (_, tf) in cand.items() if tf[t] > 0)
        for t in BM25_QUERY_TERMS
    }
    expect = []
    for did, (dl, tf) in cand.items():
        norm = BM25_K1 * (1.0 - BM25_B + BM25_B * (dl / avgdl))
        s = 0.0
        for t in BM25_QUERY_TERMS:
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf[t] * (BM25_K1 + 1.0)) / (tf[t] + norm)
        expect.append((did, round(s, 6)))
    expect.sort(key=lambda r: (-r[1], r[0]))
    got = [
        (r["doc_id"], r["bm25"]) for r in text_bm25_topk(spark, sf).collect()
    ]
    assert got == expect[:BM25_TOPK]


def test_cms_overestimates_and_is_deterministic(spark):
    """Count-min guarantees est >= exact for every key (collisions only
    add); the portable-md5 construction must also be run-to-run
    deterministic (same buckets, same counters)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.sketches import (
        agg_count_min_sketch,
    )

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in agg_count_min_sketch(spark, sf).collect()]
    b = [tuple(r) for r in agg_count_min_sketch(spark, sf).collect()]
    assert a == b
    assert len(a) == 20
    for _, exact_n, cms_est in a:
        assert cms_est >= exact_n


def test_exact_substring_spans_match_python_reference(spark):
    """dedup_exact_substring_spans vs a from-scratch pure-python
    positional-gram scan over the sf0.001 corpus: identical totals, dup
    counts, ratios, and longest contiguous duplicated run per doc."""
    from collections import defaultdict

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.dedup import (
        SUBSTR_N,
        dedup_exact_substring_spans,
    )

    sf = "/root/testdata/sf0.001"
    docs = [
        (r["doc_id"], r["text"].split(" "))
        for r in read_table(spark, sf, "documents").collect()
    ]
    grams = {
        did: [
            " ".join(toks[i : i + SUBSTR_N])
            for i in range(len(toks) - SUBSTR_N + 1)
        ]
        for did, toks in docs
        if len(toks) >= SUBSTR_N
    }
    owners = defaultdict(set)
    for did, gs in grams.items():
        for g in gs:
            owners[g].add(did)
    expect = []
    for did in sorted(grams):
        flags = [len(owners[g]) >= 2 for g in grams[did]]
        longest = run = 0
        for fl in flags:
            run = run + 1 if fl else 0
            longest = max(longest, run)
        n_dup = sum(flags)
        expect.append(
            (did, len(flags), n_dup, round(n_dup / len(flags), 6), longest)
        )
    got = [tuple(r) for r in dedup_exact_substring_spans(spark, sf).collect()]
    assert got == expect


def test_containment_vs_jaccard_relation(spark):
    """Containment dominates Jaccard for every candidate pair
    (|A∩B|/|S_small| >= |A∩B|/|A∪B|), and every symmetric near-dup pair
    found by dedup_ngram_jaccard must appear (both directions' max) at
    containment >= its jaccard."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.dedup import (
        dedup_containment_ngram,
        dedup_ngram_jaccard,
    )

    sf = "/root/testdata/sf0.001"
    cont = {
        (r["contained_doc"], r["container_doc"]): r["containment"]
        for r in dedup_containment_ngram(spark, sf).collect()
    }
    for r in dedup_ngram_jaccard(spark, sf).collect():
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard"]
        best = max(cont.get((a, b), 0.0), cont.get((b, a), 0.0))
        assert best >= j - 1e-9, (a, b, j, best)


def test_sliding_windows_reconstruct_document(spark):
    """Sliding windows must cover every token: concatenating each
    window's first WIN_STRIDE tokens plus the last window's remainder
    reproduces the original token stream exactly, and consecutive full
    windows overlap by WIN_TOKENS - WIN_STRIDE tokens."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.llm_prep import (
        WIN_STRIDE,
        WIN_TOKENS,
        chunk_sliding_window,
    )

    sf = "/root/testdata/sf0.001"
    wins = {}
    for r in chunk_sliding_window(spark, sf).collect():
        wins.setdefault(r["doc_id"], {})[r["win_id"]] = r["win_text"].split(" ")
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in read_table(spark, sf, "documents").collect()
        if r["text"] is not None
    }
    assert set(wins) == set(docs)
    for did, toks in docs.items():
        ws = [wins[did][i] for i in range(len(wins[did]))]
        rebuilt = []
        for w in ws[:-1]:
            assert len(w) == WIN_TOKENS  # only the last may run short
            rebuilt.extend(w[:WIN_STRIDE])
        rebuilt.extend(ws[-1])
        assert rebuilt == toks, did
        for a, b in zip(ws, ws[1:]):
            if len(b) >= WIN_TOKENS - WIN_STRIDE:
                assert a[WIN_STRIDE:] == b[: WIN_TOKENS - WIN_STRIDE]


def _winnow_reference(tokens, k, w, pos_max):
    """Pure-python winnowing (Schleimer et al. 2003, rightmost-min rule)."""
    import hashlib

    g = len(tokens) - k + 1
    if g < 1:
        return set()
    hs = [
        hashlib.md5(("wn:" + " ".join(tokens[i : i + k])).encode()).hexdigest()[:15]
        for i in range(g)
    ]
    sel = set()
    for end in range(min(w, g) - 1, g):
        lo = max(0, end - w + 1)
        best = min(range(lo, end + 1), key=lambda i: (hs[i], -i))
        sel.add((best + 1, hs[best]))
    return sel


def test_winnow_matches_pure_python_reference(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        _WINNOW_POS_MAX,
        WINNOW_K,
        WINNOW_W,
        text_winnow_fingerprint,
    )

    sf = "/root/testdata/sf0.001"
    got = {}
    for r in text_winnow_fingerprint(spark, sf).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp_pos"], r["fp_hash"]))
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in read_table(spark, sf, "documents").collect()
        if r["text"] is not None
    }
    want = {
        d: _winnow_reference(t, WINNOW_K, WINNOW_W, _WINNOW_POS_MAX)
        for d, t in docs.items()
    }
    want = {d: s for d, s in want.items() if s}
    assert got == want


def test_winnow_guarantee_shared_runs_share_fingerprint(spark):
    """The winnowing guarantee: any two docs sharing a contiguous run of
    >= W + K - 1 tokens must share at least one selected fingerprint
    hash (checked over every qualifying doc pair at sf0.001)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        text_winnow_fingerprint,
    )

    sf = "/root/testdata/sf0.001"
    t_g = WINNOW_W + WINNOW_K - 1
    fps = {}
    for r in text_winnow_fingerprint(spark, sf).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in read_table(spark, sf, "documents").collect()
        if r["text"] is not None and len(r["text"].split(" ")) >= t_g
    }
    runs = {
        d: {" ".join(t[i : i + t_g]) for i in range(len(t) - t_g + 1)}
        for d, t in docs.items()
    }
    ids = sorted(runs)
    checked = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if runs[a] & runs[b]:
                checked += 1
                assert fps[a] & fps[b], (a, b)
    assert checked > 0  # the guarantee was actually exercised


def test_allpairs_prefix_equals_full_inverted_index(spark):
    """The prefix filter is lossless: dedup_allpairs_prefix must produce
    exactly dedup_ngram_jaccard's pairs, while generating strictly fewer
    candidate pairs than the full shared-shingle join (the pruning that
    justifies it at scale)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _prefix_candidates,
        _shingles,
        dedup_allpairs_prefix,
        dedup_ngram_jaccard,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_allpairs_prefix(spark, sf).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, sf).collect()
    }
    assert got == want
    assert len(got) > 0  # the equality was exercised on real pairs

    docs = read_table(spark, sf, "documents")
    n_prefix = _prefix_candidates(
        docs, int(JACCARD_THRESHOLD * 100)
    ).count()
    sh = _shingles(docs)
    a, b = sh.alias("a"), sh.alias("b")
    from pyspark.sql import functions as F

    n_full = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert n_prefix < n_full, (n_prefix, n_full)


def test_bpe_encode_matches_fixpoint_reference(spark):
    """The chained single-pass replace must equal classic BPE application
    run to FIXPOINT per merge rank (the stronger contract: one pass is
    exact because a merge cannot recreate its own pair)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        BPE_MERGES,
        text_bpe_encode_count,
    )

    def bpe_units(word):
        u = list(word)
        for x, y in BPE_MERGES:
            while True:
                out, i = [], 0
                while i < len(u):
                    if i + 1 < len(u) and u[i] == x and u[i + 1] == y:
                        out.append(x + y)
                        i += 2
                    else:
                        out.append(u[i])
                        i += 1
                if out == u:
                    break
                u = out
        return u

    sf = "/root/testdata/sf0.001"
    want = {}
    for r in read_table(spark, sf, "documents").collect():
        if r["text"] is None:
            continue
        ws = r["text"].split(" ")
        want[r["doc_id"]] = (len(ws), sum(len(bpe_units(w)) for w in ws))
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_units"])
        for r in text_bpe_encode_count(spark, sf).collect()
    }
    assert got == want
    # merges actually fired: BPE count strictly below char count somewhere
    chars = {
        d: sum(len(w) for w in t)
        for d, t in (
            (r["doc_id"], r["text"].split(" "))
            for r in read_table(spark, sf, "documents").collect()
            if r["text"] is not None
        )
    }
    assert any(got[d][1] < chars[d] for d in got)


def test_k_anonymity_invariants(spark):
    """Every released class is >= K; suppressed records pool into the
    single '*' class; record count is conserved exactly."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.llm_prep import (
        K_ANON,
        privacy_k_anonymity,
    )

    sf = "/root/testdata/sf0.01"
    rows = privacy_k_anonymity(spark, sf).collect()
    total = read_table(spark, sf, "customer").count()
    assert sum(r["class_size"] for r in rows) == total
    star = [r for r in rows if r["qi_nation"] == "*"]
    for r in rows:
        if r["qi_nation"] != "*":
            assert r["qi_segment"] != "*"
            assert r["class_size"] >= K_ANON, r
    # the fixture has sub-k classes at this SF, so suppression must fire
    assert len(star) == 1 and star[0]["qi_segment"] == "*"


def test_l_diversity_entropy_dominance(spark):
    """Entropy l-diversity is strictly stronger: entropy >= ln(l) implies
    >= l distinct values (entropy is bounded by ln(#distinct)); the flag
    implication and the bound must hold on every audited class."""
    import math

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.llm_prep import (
        privacy_l_diversity,
    )

    rows = privacy_l_diversity(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r["entropy"] <= math.log(r["l_distinct"]) + 1e-6, r
        if r["is_entropy_l_diverse"]:
            assert r["is_l_diverse"], r


def test_weighted_reservoir_matches_reference_and_biases_long_docs(spark):
    import hashlib
    import math

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.sampling import (
        _ARES_DENOM,
        ARES_K,
        sample_weighted_reservoir,
    )

    sf = "/root/testdata/sf0.001"
    docs = [
        (r["doc_id"], r["n_chars"])
        for r in read_table(spark, sf, "documents").collect()
        if r["text"] is not None and r["n_chars"] > 0
    ]

    def key(doc_id, w):
        h = int(hashlib.md5(f"ares:{doc_id}".encode()).hexdigest()[:8], 16)
        r = math.log((h + 0.5) / _ARES_DENOM) / w
        # ties-away-from-zero at 6dp, mirroring dround/DuckDB ROUND
        return math.floor(abs(r) * 1e6 + 0.5) / 1e6 * (1 if r >= 0 else -1)

    want = sorted(
        ((key(d, w), d, w) for d, w in docs),
        key=lambda t: (-t[0], t[1]),
    )[:ARES_K]
    got = [
        (r["ares_key"], r["doc_id"], r["weight"])
        for r in sample_weighted_reservoir(spark, sf).collect()
    ]
    assert [(k, d, w) for k, d, w in want] == got
    # the weighted draw must bias toward long docs
    avg_all = sum(w for _, w in docs) / len(docs)
    avg_sample = sum(w for _, _, w in got) / len(got)
    assert avg_sample > avg_all


def test_ppjoin_positional_filter_lossless_and_tighter(spark):
    """PPJoin containment chain at a threshold where the positional
    bound actually bites (t = 0.5 on this corpus: prefix ~1139
    candidates, ppjoin ~29): every true Jaccard>=t pair must survive
    BOTH filters (losslessness), ppjoin candidates must be a strict
    subset of prefix candidates, and at the production t=0.8 the
    operator output must equal dedup_ngram_jaccard exactly."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.dedup import (
        _jaccard_pairs,
        _ppjoin_candidates,
        _prefix_candidates,
        dedup_ngram_jaccard,
        dedup_ppjoin,
    )

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")
    t_pct = 50
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _jaccard_pairs(docs)
        .filter(f"jaccard >= {t_pct / 100}")
        .collect()
    }
    prefix = {
        (r["doc_a"], r["doc_b"])
        for r in _prefix_candidates(docs, t_pct).collect()
    }
    ppjoin = {
        (r["doc_a"], r["doc_b"])
        for r in _ppjoin_candidates(docs, t_pct).collect()
    }
    assert true_pairs and true_pairs <= ppjoin <= prefix
    assert len(ppjoin) < len(prefix)  # the positional bound prunes

    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_ppjoin(spark, sf).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, sf).collect()
    }
    assert got == want


def test_t_closeness_matches_bruteforce_tv(spark):
    """The present-rows-only decomposition must equal the brute-force
    total-variation distance over ALL categories, computed in python."""
    import collections

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.llm_prep import (
        privacy_t_closeness,
    )

    sf = "/root/testdata/sf0.01"
    cust = read_table(spark, sf, "customer").collect()
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in read_table(spark, sf, "nation").collect()
    }
    per_class = collections.defaultdict(collections.Counter)
    glob = collections.Counter()
    for r in cust:
        per_class[nation[r["c_nationkey"]]][r["c_mktsegment"]] += 1
        glob[r["c_mktsegment"]] += 1
    n_tot = sum(glob.values())
    got = {
        r["qi_nation"]: (r["class_size"], r["tv_distance"])
        for r in privacy_t_closeness(spark, sf).collect()
    }
    assert set(got) == set(per_class)
    for cls, cnt in per_class.items():
        n = sum(cnt.values())
        tv = 0.5 * sum(
            abs(cnt.get(seg, 0) / n - glob[seg] / n_tot) for seg in glob
        )
        assert got[cls][0] == n
        assert abs(got[cls][1] - tv) < 1e-5, (cls, got[cls][1], tv)


def _bigram_edges(spark, sf):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table

    edges = set()
    for r in read_table(spark, sf, "documents").collect():
        if r["text"] is None:
            continue
        t = r["text"].split(" ")
        for a, b in zip(t, t[1:]):
            edges.add((a, b))
    return edges


def test_triangle_counts_match_bruteforce(spark):
    """Oriented wedge enumeration must equal the brute-force triangle
    count over the undirected token graph (every unordered triple with
    all three edges present; each corner credited once per triangle)."""
    import collections
    import itertools

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.graph import (
        graph_triangle_counts,
    )

    sf = "/root/testdata/sf0.001"
    und = {
        (min(a, b), max(a, b)) for a, b in _bigram_edges(spark, sf) if a != b
    }
    nodes = sorted({x for e in und for x in e})
    per_node = collections.Counter()
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in und and (y, z) in und and (x, z) in und:
            per_node[x] += 1
            per_node[y] += 1
            per_node[z] += 1
    got = {
        r["token"]: r["n_triangles"]
        for r in graph_triangle_counts(spark, sf).collect()
    }
    assert got == dict(per_node)
    assert got  # the graph actually has triangles


def test_association_rules_match_bruteforce(spark):
    """Rules, supports, confidences and lifts must equal the literal
    Agrawal-Srikant computation in python (ceil-integer minsup, 3/5
    confidence floor, 6dp rounding)."""
    import collections

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        mine_association_rules,
    )

    sf = "/root/testdata/sf0.001"
    baskets = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in read_table(spark, sf, "documents").collect()
        if r["text"] is not None
    }
    n_docs = read_table(spark, sf, "documents").count()
    minsup = (3 * n_docs + 9) // 10
    singles = collections.Counter()
    for b in baskets.values():
        singles.update(b)
    freq1 = {t for t, c in singles.items() if c >= minsup}
    pairs = collections.Counter()
    for b in baskets.values():
        fb = sorted(b & freq1)
        for i, x in enumerate(fb):
            for y in fb[i + 1 :]:
                pairs[(x, y)] += 1
    want = {}
    for (x, y), sxy in pairs.items():
        if sxy < minsup:
            continue
        for ante, cons in ((x, y), (y, x)):
            if 5 * sxy >= 3 * singles[ante]:
                want[(ante, cons)] = (
                    round(sxy / n_docs, 6),
                    round(sxy / singles[ante], 6),
                    round((sxy / singles[ante]) / (singles[cons] / n_docs), 6),
                )
    got = {
        (r["antecedent"], r["consequent"]): (
            r["support"],
            r["confidence"],
            r["lift"],
        )
        for r in mine_association_rules(spark, sf).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for gv, wv in zip(got[k], want[k]):
            assert abs(gv - wv) < 2e-6, (k, got[k], want[k])


def test_ewma_matches_pandas_ewm(spark):
    """The grouped-map recurrence must equal pandas' own ewm(adjust=False)
    smoother per series — an independent implementation of the same
    definition."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.custom_udf import (
        EWMA_ALPHA,
        timeseries_ewma_smooth,
    )

    rows = timeseries_ewma_smooth(spark, "/root/testdata/sf0.001").collect()
    assert rows
    import collections

    series = collections.defaultdict(list)
    for r in rows:
        series[r["priority"]].append((r["mon"], r["revenue"], r["ewma"]))
    import pandas as pd

    for prio, pts in series.items():
        pts.sort()
        rev = pd.Series([p[1] for p in pts])
        want = rev.ewm(alpha=EWMA_ALPHA, adjust=False).mean()
        for (_, _, got), w in zip(pts, want):
            assert abs(got - w) < 1e-4, (prio, got, w)


def test_benford_audit_invariants(spark):
    """Observed shares sum to 1 over the digit spine, Benford shares sum
    to 1 (log10 telescoping), and n sums to the filtered row count."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        dq_benford_first_digit,
    )

    sf = "/root/testdata/sf0.01"
    rows = dq_benford_first_digit(spark, sf).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["benford_share"] for r in rows) - 1.0) < 1e-5
    n_pos = (
        read_table(spark, sf, "orders")
        .filter("o_totalprice > 0")
        .count()
    )
    assert sum(r["n"] for r in rows) == n_pos


def test_dp_noisy_counts_match_reference_laplace(spark):
    """Noisy counts must equal the python recomputation of the seeded
    inverse-CDF Laplace mechanism exactly (4dp), and noise must actually
    perturb (not all zeros)."""
    import collections
    import hashlib
    import math

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.llm_prep import (
        _DP_DENOM,
        DP_EPSILON,
        privacy_dp_noisy_counts,
    )

    sf = "/root/testdata/sf0.01"
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in read_table(spark, sf, "nation").collect()
    }
    true = collections.Counter(
        nation[r["c_nationkey"]]
        for r in read_table(spark, sf, "customer").collect()
    )
    got = {
        r["qi_nation"]: r["noisy_count"]
        for r in privacy_dp_noisy_counts(spark, sf).collect()
    }
    assert set(got) == set(true)
    diffs = []
    for name, n in true.items():
        h = int(
            hashlib.md5(f"dpseed:{name}".encode()).hexdigest()[:8], 16
        )
        ctr = (h + 0.5) / _DP_DENOM - 0.5
        noise = (
            -(1.0 / DP_EPSILON)
            * math.copysign(1.0, ctr)
            * math.log(1.0 - 2.0 * abs(ctr))
        )
        want = round(n + noise, 4)
        assert abs(got[name] - want) < 1.5e-4, (name, got[name], want)
        diffs.append(got[name] - n)
    assert any(abs(d) > 0.01 for d in diffs)


def test_rfm_scores_monotone_and_bounded(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        rfm_segmentation,
    )

    rows = rfm_segmentation(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        for s in (r["r_score"], r["f_score"], r["m_score"]):
            assert 1 <= s <= 5
        assert r["rfm_code"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
    # monotone: sort by metric, scores must be non-decreasing (freq/money)
    # and non-increasing in recency_days
    by_m = sorted(rows, key=lambda r: r["monetary"])
    assert all(
        a["m_score"] <= b["m_score"] for a, b in zip(by_m, by_m[1:])
    )
    by_r = sorted(rows, key=lambda r: r["recency_days"])
    assert all(
        a["r_score"] >= b["r_score"] for a, b in zip(by_r, by_r[1:])
    )
    # every quintile bucket is populated at this SF
    assert {r["m_score"] for r in rows} == {1, 2, 3, 4, 5}


def test_abc_pareto_invariants(spark):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        abc_pareto_parts,
    )

    rows = abc_pareto_parts(spark, "/root/testdata/sf0.01").collect()
    assert rows
    shares = [r["cum_share"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-6
    order = {"A": 0, "B": 1, "C": 2}
    classes = [order[r["abc_class"]] for r in rows]
    assert classes == sorted(classes)  # A block, then B, then C
    for r in rows:
        if r["abc_class"] == "A":
            assert r["cum_share"] <= 0.700001
        elif r["abc_class"] == "B":
            assert 0.699999 < r["cum_share"] <= 0.900001
    assert {r["abc_class"] for r in rows} == {"A", "B", "C"}


def test_attribution_matches_pure_python(spark):
    import collections
    import datetime

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        events_attribution_last_touch,
    )

    sf = "/root/testdata/sf0.001"
    ev = sorted(
        read_table(spark, sf, "events").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    last_np = {}
    agg = collections.defaultdict(lambda: [0, 0])
    for r in ev:
        u = r["user_id"]
        if r["event_type"] == "purchase":
            prior = last_np.get(u)
            if prior and r["ts"] - prior[1] <= datetime.timedelta(days=7):
                ch = prior[0]
            else:
                ch = "direct"
            agg[ch][0] += 1
            if r["value"] is not None:
                v = abs(r["value"]) * 10000
                agg[ch][1] += int(v + 0.5) * (1 if r["value"] >= 0 else -1)
        else:
            last_np[u] = (r["event_type"], r["ts"])
    want = {
        ch: (n, round(sv / 10000.0, 4)) for ch, (n, sv) in agg.items()
    }
    got = {
        r["channel"]: (r["n_purchases"], r["attributed_value"])
        for r in events_attribution_last_touch(spark, sf).collect()
    }
    assert got == want
    assert len(got) > 1  # both attributed and non-trivial channels exist


def test_zipf_fit_matches_numpy_polyfit(spark):
    """Slope/intercept/R2 must match numpy's least squares on the same
    ln(rank)/ln(freq) points (within the 1e-8 term-rounding the scaled
    sums introduce)."""
    import collections
    import math

    import numpy as np

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        corpus_zipf_fit,
    )

    sf = "/root/testdata/sf0.001"
    tf = collections.Counter()
    for r in read_table(spark, sf, "documents").collect():
        if r["text"] is not None:
            tf.update(r["text"].split(" "))
    ordered = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
    x = np.array([math.log(i + 1) for i in range(len(ordered))])
    y = np.array([math.log(c) for _, c in ordered])
    slope, intercept = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]
    row = corpus_zipf_fit(spark, sf).collect()[0]
    assert row["n_types"] == len(ordered)
    assert abs(row["zipf_slope"] - slope) < 1e-5
    assert abs(row["zipf_intercept"] - intercept) < 1e-5
    assert abs(row["r2"] - r * r) < 1e-5


@given(
    tokens=st.lists(
        st.sampled_from("abcd"), min_size=0, max_size=30
    ),
    merges=st.lists(
        st.tuples(st.sampled_from("abcd"), st.sampled_from("abcd")),
        min_size=1,
        max_size=4,
    ),
)
@_settings
def test_bpe_single_pass_equals_fixpoint(tokens, merges):
    """The docstring claim behind text_bpe_encode_count: ONE left-to-right
    non-overlapping pass per merge equals iterating that merge to
    fixpoint, for arbitrary unit streams and merge tables (a merge can
    never recreate its own pair). Pure python, no Spark."""
    # resolve merges in rank order against evolving units, like BPE does
    def one_pass(u, x, y):
        out, i = [], 0
        while i < len(u):
            if i + 1 < len(u) and u[i] == x and u[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(u[i])
                i += 1
        return out

    single = list(tokens)
    fix = list(tokens)
    for x, y in merges:
        single = one_pass(single, x, y)
        while True:
            nxt = one_pass(fix, x, y)
            if nxt == fix:
                break
            fix = nxt
    assert single == fix


@given(
    a=st.lists(st.sampled_from("abc"), min_size=8, max_size=40),
    b=st.lists(st.sampled_from("abc"), min_size=8, max_size=40),
)
@_settings
def test_winnow_guarantee_on_random_streams(a, b):
    """The winnowing guarantee (Schleimer et al. Thm): if two token
    streams share a contiguous run of >= W + K - 1 tokens, their
    fingerprint hash sets intersect. Checked on the pure-python
    reference the Spark operator is already proven equal to."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        _WINNOW_POS_MAX,
        WINNOW_K,
        WINNOW_W,
    )

    t_g = WINNOW_W + WINNOW_K - 1
    runs_a = {tuple(a[i : i + t_g]) for i in range(len(a) - t_g + 1)}
    runs_b = {tuple(b[i : i + t_g]) for i in range(len(b) - t_g + 1)}
    if not (runs_a & runs_b):
        return
    fa = {
        h
        for _, h in _winnow_reference(a, WINNOW_K, WINNOW_W, _WINNOW_POS_MAX)
    }
    fb = {
        h
        for _, h in _winnow_reference(b, WINNOW_K, WINNOW_W, _WINNOW_POS_MAX)
    }
    assert fa & fb


def _round_away(x: float) -> int:
    """Pure-python twin of numerics._nearest_long_away (C round())."""
    import math

    y = abs(x)
    f = math.floor(y + 0.5)
    if y < f - 0.5:
        f -= 1
    return int(f) if x >= 0 else -int(f)


def test_markov_transitions_match_pure_python(spark):
    """Transition counts must equal the literal per-user consecutive-pair
    count; probabilities must row-normalize (each row of the matrix sums
    to 1) and match n/total to the 6-dp rounding grain."""
    import collections

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        events_markov_transitions,
    )

    sf = "/root/testdata/sf0.001"
    ev = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"], r["event_type"])
            for r in read_table(spark, sf, "events").collect()
        ),
    )
    counts: collections.Counter = collections.Counter()
    for (u1, _, _, t1), (u2, _, _, t2) in zip(ev, ev[1:]):
        if u1 == u2:
            counts[(t1, t2)] += 1
    row_tot: collections.Counter = collections.Counter()
    for (p, _), n in counts.items():
        row_tot[p] += n

    got = events_markov_transitions(spark, sf).collect()
    assert {(r["prev_type"], r["event_type"]): r["n"] for r in got} == dict(
        counts
    )
    by_prev: collections.defaultdict = collections.defaultdict(float)
    for r in got:
        want = counts[(r["prev_type"], r["event_type"])] / row_tot[
            r["prev_type"]
        ]
        assert abs(r["prob"] - want) <= 5.1e-7
        by_prev[r["prev_type"]] += r["prob"]
    for s in by_prev.values():
        assert abs(s - 1.0) < 3e-6


def test_label_propagation_matches_pure_python(spark):
    """The unrolled Spark LPA must equal a literal synchronous
    label-propagation replay (mode of neighbor labels, min-label
    tie-break, 3 rounds) on the same undirected token graph."""
    import collections

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.graph import (
        LPA_ITERS,
        graph_label_propagation,
    )

    sf = "/root/testdata/sf0.001"
    und = {
        (min(a, b), max(a, b)) for a, b in _bigram_edges(spark, sf) if a != b
    }
    adj: collections.defaultdict = collections.defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    labels = {n: n for n in adj}
    for _ in range(LPA_ITERS):
        new = {}
        for n in adj:
            cnt = collections.Counter(labels[v] for v in adj[n])
            new[n] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new

    got = {
        r["token"]: r["community"]
        for r in graph_label_propagation(spark, sf).collect()
    }
    assert got == labels
    assert got  # graph is nonempty


def test_rake_matches_pure_python(spark):
    """RAKE top-k phrases and scaled-int scores must equal the literal
    Rose et al. computation (per-doc word degree/freq, guarded
    ties-away rounding, sum over member-word occurrences, ties by
    phrase)."""
    import collections

    from u_s__non_farm_payrolls_an_olap_analysis_spark.io import read_table
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.text import (
        RAKE_SCALE,
        RAKE_TOPK,
        STOPWORDS,
        text_keyword_extract_rake,
    )

    sf = "/root/testdata/sf0.001"
    want: dict = {}
    for r in read_table(spark, sf, "documents").collect():
        if r["text"] is None:
            continue
        phrases: list[list[str]] = []
        cur: list[str] = []
        for t in r["text"].split(" "):
            if t in STOPWORDS or t == "":
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(t)
        if cur:
            phrases.append(cur)
        if not phrases:
            continue
        freq: collections.Counter = collections.Counter()
        degree: collections.Counter = collections.Counter()
        for p in phrases:
            for w in p:
                freq[w] += 1
                degree[w] += len(p)
        sc = {
            w: _round_away(degree[w] * RAKE_SCALE / freq[w]) for w in freq
        }
        per_phrase: dict = {}
        for p in phrases:
            per_phrase[" ".join(p)] = sum(sc[w] for w in p)
        top = sorted(per_phrase.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (phrase, s) in enumerate(top[:RAKE_TOPK], start=1):
            want[(r["doc_id"], rank)] = (phrase, s)

    got = text_keyword_extract_rake(spark, sf).collect()
    assert {
        (r["doc_id"], r["rank"]): (r["phrase"], _round_away(r["score"] * RAKE_SCALE))
        for r in got
    } == want
    assert len(got) >= 3


def test_classical_decompose_matches_pure_python(spark):
    """The exact-integer decomposition must equal an independent
    float-based reference implementing the same spec (centered 2x12 MA,
    month-of-year seasonal means, centering) on the raw monthly series,
    and the components must reassemble: trend+seasonal+residual ~ revenue
    (up to the seasonal-index rounding the spec fixes at 6dp)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.analytics import (
        timeseries_classical_decompose,
    )

    sf = "/root/testdata/sf0.001"
    rows = timeseries_classical_decompose(spark, sf).collect()
    assert rows
    # independent reference: rebuild the monthly series from parquet
    import collections

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/orders.parquet").to_pandas()
    t["mon"] = t["o_orderdate"].values.astype("datetime64[M]")
    monthly = collections.defaultdict(float)
    for p, m, v in zip(t["o_orderpriority"], t["mon"], t["o_totalprice"]):
        monthly[(p, m)] += round(v * 10000) / 10000.0
    series = collections.defaultdict(list)
    for (p, m), v in sorted(monthly.items()):
        series[p].append((m, v))
    expect = {}
    for p, pts in series.items():
        xs = [v for _, v in pts]
        n = len(xs)
        trend = {}
        for i in range(6, n - 6):
            trend[i] = (
                0.5 * xs[i - 6] + sum(xs[i - 5:i + 6]) + 0.5 * xs[i + 6]
            ) / 12.0
        det = {i: xs[i] - tr for i, tr in trend.items()}
        by_moy = collections.defaultdict(list)
        for i, d in det.items():
            by_moy[pts[i][0].month].append(d)
        smeans = {m: sum(v) / len(v) for m, v in by_moy.items()}
        smeans_r = {m: round(v, 6) for m, v in smeans.items()}
        center = sum(smeans_r.values()) / len(smeans_r)
        for i in trend:
            expect[(p, np.datetime64(pts[i][0], "M"))] = (
                xs[i],
                trend[i],
                smeans_r[pts[i][0].month] - center,
            )
    assert len(rows) == len(expect)
    for r in rows:
        key = (r["priority"], np.datetime64(r["mon"], "M"))
        rev, tr, seas = expect[key]
        assert abs(r["revenue"] - rev) < 1e-3, key
        assert abs(r["trend"] - tr) < 1e-3, key
        assert abs(r["seasonal"] - seas) < 2e-6, key
        # components reassemble (residual defined against rounded seasonal)
        assert abs(
            (r["trend"] + r["seasonal"] + r["residual"]) - r["revenue"]
        ) < 5e-3, key


def test_hamming_binary_matches_numpy_bruteforce(spark):
    """Sign-quantized Hamming top-k must equal a numpy bit-packing +
    popcount brute force on the same fixture vectors."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.similarity import (
        TOP_K,
        sim_search_hamming_binary,
    )

    sf = "/root/testdata/sf0.001"
    rows = sim_search_hamming_binary(spark, sf).collect()
    assert rows
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    vecs = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float32)
        for r in t.itertuples()
    }
    bits = {k: (v > 0) for k, v in vecs.items()}
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["hamming"])
        )
    for qid in [k for k in vecs if k < 10]:
        cands = sorted(
            (int(np.count_nonzero(bits[qid] != bits[c])), c)
            for c in vecs
            if c >= 10
        )[:TOP_K]
        want = [(i + 1, c, h) for i, (h, c) in enumerate(cands)]
        assert sorted(got[qid]) == want, qid


def test_cusum_matches_pure_python(spark):
    """The grouped-map CUSUM recurrence must equal an independent python
    replay (same mu/k/h derivation), and obey the tabular-CUSUM
    invariants: both sums nonnegative, reset-at-zero, alarm iff a sum
    strictly exceeds h."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.custom_udf import (
        timeseries_cusum_changepoints,
    )

    rows = timeseries_cusum_changepoints(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    import collections

    series = collections.defaultdict(list)
    for r in rows:
        series[r["priority"]].append(
            (r["mon"], r["revenue"], r["cusum_pos"], r["cusum_neg"],
             r["alarm"])
        )

    def r4(s):
        v = abs(s) * 10000.0
        return (1.0 if s >= 0 else -1.0) * (int(v + 0.5) // 1) / 10000.0

    saw_alarm = False
    for prio, pts in series.items():
        pts.sort()
        xs = [p[1] for p in pts]
        scaled = [int(abs(x) * 10000.0 + 0.5) for x in xs]
        mu = r4(float(sum(scaled)) / 10000.0 / len(xs))
        k, h = mu / 16.0, mu / 4.0
        sp = sn = 0.0
        for (mon, x, got_sp, got_sn, got_alarm) in pts:
            sp = max(0.0, sp + (x - mu) - k)
            sn = max(0.0, sn + (mu - x) - k)
            assert got_sp == r4(sp), (prio, mon)
            assert got_sn == r4(sn), (prio, mon)
            assert got_alarm == (1 if (sp > h or sn > h) else 0), (prio, mon)
            assert got_sp >= 0.0 and got_sn >= 0.0
            saw_alarm = saw_alarm or got_alarm == 1
    # the fixture series drifts enough that at least one alarm must fire
    assert saw_alarm


def test_pq_adc_matches_numpy_reference(spark):
    """PQ encode + asymmetric-distance scoring must equal an independent
    numpy implementation of the same spec (6-dp-rounded distances,
    centroid-id tiebreaks, 6-dp partial dots)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.similarity import (
        PQ_DSUB,
        PQ_K,
        PQ_M,
        TOP_K,
        sim_search_pq_adc,
    )

    sf = "/root/testdata/sf0.001"
    rows = sim_search_pq_adc(spark, sf).collect()
    assert rows
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    vecs = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float64)
        for r in t.itertuples()
    }

    def r6(x):
        return (1.0 if x >= 0 else -1.0) * (
            int(abs(x) * 1e6 + 0.5) // 1
        ) / 1e6

    cb = {
        (m, j): vecs[10 + j][m * PQ_DSUB:(m + 1) * PQ_DSUB]
        for m in range(PQ_M)
        for j in range(PQ_K)
    }
    codes = {}
    for c in vecs:
        if c < 10:
            continue
        for m in range(PQ_M):
            sub = vecs[c][m * PQ_DSUB:(m + 1) * PQ_DSUB]

            def d2(a, b):
                acc = 0.0  # sequential fold, same order as both engines
                for x, y in zip(a, b):
                    v = float(x) - float(y)
                    acc += v * v
                return acc

            best = min(
                (r6(d2(sub, cb[(m, j)])), j) for j in range(PQ_K)
            )
            codes[(c, m)] = best[1]
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["score"])
        )
    for qid in [k for k in vecs if k < 10]:
        scores = []
        for c in vecs:
            if c < 10:
                continue
            s = 0.0
            for m in range(PQ_M):
                sub = vecs[qid][m * PQ_DSUB:(m + 1) * PQ_DSUB]
                acc = 0.0  # sequential fold, same order as both engines
                for x, y in zip(sub, cb[(m, codes[(c, m)])]):
                    acc += float(x) * float(y)
                s += r6(acc)
            scores.append((-r6(s), c))
        scores.sort()
        want = [
            (i + 1, c, -ns) for i, (ns, c) in enumerate(scores[:TOP_K])
        ]
        have = sorted(got[qid])
        assert [(rk, nb) for rk, nb, _ in have] == [
            (rk, nb) for rk, nb, _ in want
        ], qid
        for (_, _, a), (_, _, b) in zip(have, want):
            assert abs(a - b) < 1e-9, qid


def _union_find_min_labels(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _min_label_inputs(spark, nodes, edges):
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.pairgen import (
        symmetrize,
    )

    pairs = spark.createDataFrame(edges, "a long, b long")
    labels0 = spark.createDataFrame(
        [(n, n) for n in nodes], "node long, label long"
    )
    return symmetrize(pairs, "a", "b", "src", "dst"), labels0


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=12
    ),
    isolated=st.sets(st.integers(10, 13), max_size=3),
)
@example(edges=[], isolated=set())
@example(edges=[], isolated={10, 11})
@example(edges=[(1, 1), (1, 2), (2, 1), (1, 2), (3, 4)], isolated={12})
@_settings
def test_min_label_components_equals_union_find(spark, edges, isolated):
    """The shared fixpoint device (CC and dedup_clusters) must label every
    node with the min node of its union-find component — self-loops,
    duplicate edges, isolated nodes and an empty edge list included — and
    converge within (longest shortest path + 1) <= |nodes| rounds."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.graph import (
        min_label_components,
    )

    nodes = sorted({n for e in edges for n in e} | isolated)
    e, labels0 = _min_label_inputs(spark, nodes, edges)
    labels, n = min_label_components(
        e, labels0, rounds=len(nodes) + 1, name="prop"
    )
    assert labels.columns == ["node", "label"]
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == _union_find_min_labels(nodes, edges)
    assert 1 <= n <= len(nodes) + 1


def test_min_label_components_raises_past_round_cap(spark):
    """A path 0-1-...-6 needs 6 label-changing rounds plus one quiet
    round; capped at 6 the device must raise, naming its caller."""
    import pytest

    from u_s__non_farm_payrolls_an_olap_analysis_spark.operators.graph import (
        min_label_components,
    )

    path = [(i, i + 1) for i in range(6)]
    e, labels0 = _min_label_inputs(spark, range(7), path)
    with pytest.raises(RuntimeError, match="^path: no convergence in 6 rounds"):
        min_label_components(e, labels0, rounds=6, name="path")
    labels, n = min_label_components(e, labels0, rounds=7, name="path")
    assert n == 7 and {r["label"] for r in labels.collect()} == {0}


# prices on 4-dp half ties (x.xxxx5) next to ordinary ones
_prices = st.one_of(
    st.integers(-10**7, 10**7).map(lambda i: i / 100),
    st.integers(-10**6, 10**6).map(lambda i: i / 10_000 + 0.00005),
)
_order_rows = st.lists(
    st.tuples(
        st.sampled_from(["1-URGENT", "2-HIGH", "5-LOW"]),
        st.integers(0, 5),  # month offset from 1995-01
        st.integers(1, 28),  # day
        _prices,
        st.integers(0, 2),  # part of the random split
    ),
    max_size=24,
)


_groups_across_parts = [
    ("1-URGENT", 0, 1, 10.00005, 0),
    ("1-URGENT", 0, 2, 20.5, 1),
    ("5-LOW", 0, 3, 0.00005, 2),
    ("5-LOW", 1, 5, -3.25, 0),
    ("5-LOW", 1, 6, 7.12345, 1),
]


@given(rows=_order_rows, keyed=st.booleans())
@example(rows=[], keyed=True)
@example(rows=[], keyed=False)
@example(rows=_groups_across_parts, keyed=True)
@example(rows=_groups_across_parts, keyed=False)
@_settings
def test_monthly_partials_split_sums_and_descales(spark, rows, keyed):
    """``monthly_partials`` is a monoid homomorphism: the partials of a
    random 3-way split of the rows, summed per ``(keys, ms)``, equal the
    partials of the whole, long for long — the property an incremental
    fold of the monthly series relies on. Its descaled total equals
    ``F.round(dsum(o_totalprice), 4)`` over the same rows."""
    import datetime as dt

    orders = spark.createDataFrame(
        [
            (p, dt.datetime(1995 + m // 12, 1 + m % 12, d), x, part)
            for p, m, d, x, part in rows
        ],
        "o_orderpriority string, o_orderdate timestamp, "
        "o_totalprice double, part int",
    )
    keys = [F.col("o_orderpriority").alias("priority")] if keyed else []
    names = ["priority"] if keyed else []

    def table(df):
        return sorted(tuple(r) for r in df.collect())

    whole = monthly_partials(orders, *keys)
    parts = [
        monthly_partials(orders.filter(F.col("part") == i), *keys)
        for i in range(3)
    ]
    folded = (
        parts[0].unionByName(parts[1]).unionByName(parts[2])
        .groupBy(*names, "ms")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_scaled").alias("total_scaled"),
            F.sum("n_priced").alias("n_priced"),
        )
    )
    assert table(folded) == table(whole)
    assert sum(n for *_, n, _t, _p in table(whole)) == len(rows)

    direct = orders.groupBy(
        *keys, month_start("o_orderdate").alias("ms")
    ).agg(F.round(dsum("o_totalprice"), 4).alias("total"))
    descaled = whole.select(*names, "ms", descale("total_scaled").alias("total"))
    assert table(descaled) == table(direct)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(0, 1),
            st.integers(0, 40),
            st.sampled_from([0.0, 0.25, 0.5, 1.0]),
        ),
        max_size=16,
        unique_by=lambda t: t[2],
    ),
    by=st.sampled_from(["query_id", ("query_id", "sub"), ()]),
    k=st.one_of(st.sampled_from([1, 2]), st.integers(1, 6)),
)
@example(rows=[], by="query_id", k=3)
@example(rows=[(0, 0, 1, 0.5), (0, 1, 2, 0.5), (1, 0, 3, 1.0)], by=(), k=2)
@example(
    rows=[(0, 0, 1, 0.5), (0, 1, 2, 0.5), (0, 1, 3, 1.0)], by=("query_id", "sub"), k=1
)
@_settings
def test_top_k_is_a_per_query_sorted_head(spark, rows, by, k):
    """``ranks.top_k`` keeps each ``by`` group's first ``k`` rows by
    (score desc, neighbor_id), numbered 1..k in an int column: the same
    rows as a pandas per-group sort + ``head(k)``, for a one-column, a
    two-column and the global (``()``) group, on frames with tied
    scores, groups with fewer than ``k`` rows and no rows at all."""
    import pandas as pd

    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.ranks import top_k

    cols = ["query_id", "sub", "neighbor_id", "score"]
    schema = "query_id long, sub long, neighbor_id long, score double"
    got = top_k(
        spark.createDataFrame(rows, schema), by, k, F.col("score").desc(), "neighbor_id"
    )
    assert dict(got.dtypes)["rn"] == "int"

    keys = [by] if isinstance(by, str) else list(by)
    pdf = pd.DataFrame(rows, columns=cols).sort_values(
        [*keys, "score", "neighbor_id"],
        ascending=[*(True for _ in keys), False, True],
    )
    if keys:
        head = pdf.groupby(keys).head(k)
        head = head.assign(rn=head.groupby(keys).cumcount() + 1)
    else:
        head = pdf.head(k)
        head = head.assign(rn=range(1, len(head) + 1))
    want = sorted(
        (int(q), int(g), int(n), float(s), int(r))
        for q, g, n, s, r in head.itertuples(index=False, name=None)
    )
    assert sorted(tuple(r) for r in got.collect()) == want
