"""Graph analytics over relational edge lists (north-star extension —
the remaining distributed-algorithm family after the iterative
connected-components in ``dedup.dedup_clusters``).

The graph is DERIVED from the corpus: distinct token bigrams form a
directed word-graph (nodes = tokens, edge u→v iff "u v" occurs). The
operator family is edge-partitioned **power iteration** — the standard
Spark alternative to a Pregel runtime: each PageRank step is one join
(rank/outdegree per source) + one groupBy (sum contributions per
target), both shuffling on node keys only. Iterations are a fixed
unrolled count, so the whole computation is a static DAG Catalyst can
plan (and an oracle can replay as CTE stages).

Determinism: per-target contribution sums accumulate as scaled int64
(``round(contrib * 1e9)`` — exact, commutative, partition-order
independent; the ``KMEANS_SCALE`` rationale), so ranks are bit-identical
across engines and the result is fully hash-checked.

Scale: nodes/edges partition by key; each iteration's shuffle volume is
O(|E|). Dangling nodes (no out-edges) leak rank mass — the textbook
simplification, identical in both engines; production adds the global
dangling-mass redistribution term (one 1-row broadcast scalar per
iteration, same shape as the corpus stats in ``text.bm25_scores``).

vs reference: no analogue — the reference has no graph surface at all
(`dashboard_nfp.py` is flat time-series slicing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.iterate import fixpoint
from ..functions.numerics import d38, dround
from ..functions.pairgen import symmetrize
from ..functions.ranks import top_k
from ..io import read_table

PR_DAMPING = 0.85
PR_ITERS = 3
PR_SCALE = 1_000_000_000.0  # nano-units for exact contribution sums


def _token_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed token-bigram edges (src, dst) from documents."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("src"),
                F.element_at(toks, i + 1).alias("dst"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    return (
        docs.select(F.explode(bigrams).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
    )


def _pagerank_step(
    edges: DataFrame,
    deg: DataFrame,
    nodes: DataFrame,
    pr: DataFrame,
    key: str,
    teleport: Column,
) -> DataFrame:
    """One power iteration ``pr' = teleport + d * Σ_in pr(u)/outdeg(u)``
    over ``edges (src, dst)`` and ``deg (src, outdeg)``: per-target
    contributions sum as scaled int64 (see module docstring); ``nodes``
    keyed by ``key`` carries whatever columns the ``teleport`` Column
    reads. Lazy — the unrolled iterations plan as one static DAG."""
    contrib = (
        edges.join(pr.withColumnRenamed(key, "src"), "src")
        .join(deg, "src")
        .select(
            F.col("dst").alias(key),
            (F.col("pr") / F.col("outdeg")).alias("c"),
        )
    )
    summed = contrib.groupBy(key).agg(
        (
            F.sum(dround(F.col("c") * PR_SCALE, 0).cast("long"))
            .cast("double")
            / PR_SCALE
        ).alias("in_mass")
    )
    return nodes.join(summed, key, "left").select(
        key,
        (
            teleport + PR_DAMPING * F.coalesce(F.col("in_mass"), F.lit(0.0))
        ).alias("pr"),
    )


def graph_pagerank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the token word-graph: ``PR_ITERS`` unrolled power
    iterations, ``pr' = (1-d)/N + d * Σ_in pr(u)/outdeg(u)`` with
    scaled-int64 contribution sums (see module docstring). Output: every
    node's rank (rounded 6 dp) with a rank position ordered by
    (rounded pr desc, token)."""
    from pyspark.sql.window import Window

    # round 15: edges feeds the node union (twice), deg, and every
    # iteration's contribution join; nodes feeds n, pr0 and every
    # teleport update; deg and the 1-row n are re-joined per iteration
    # — eager checkpoints cut the corpus bigram explode+distinct to ONE
    # execution instead of one per reference (CLAUDE.md rule 5; the
    # 3-iteration unrolled plan re-ran it ~10x).
    edges = _token_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("token"))
        .unionByName(edges.select(F.col("dst").alias("token")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.agg(F.count(F.lit(1)).alias("n_nodes")).localCheckpoint(
        eager=True
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint(eager=True)

    nodes = nodes.crossJoin(F.broadcast(n))
    pr = nodes.select("token", (F.lit(1.0) / F.col("n_nodes")).alias("pr"))
    teleport = (1.0 - PR_DAMPING) / F.col("n_nodes")
    for _ in range(PR_ITERS):
        pr = _pagerank_step(edges, deg, nodes, pr, "token", teleport)
    w = Window.orderBy(F.col("pr_r").desc(), "token")
    return (
        pr.select("token", dround(F.col("pr"), 6).alias("pr_r"))
        .select(
            "token",
            F.col("pr_r").alias("pagerank"),
            F.row_number().over(w).cast("int").alias("pos"),
        )
        .orderBy("pos")
    )


QUERIES = {"graph_pagerank_tokens": graph_pagerank_tokens}


def _pagerank_oracle_sql() -> str:
    d = PR_DAMPING
    parts = [
        "e AS (SELECT DISTINCT toks[i] AS src, toks[i + 1] AS dst FROM ("
        "SELECT string_split(text, ' ') AS toks FROM documents), "
        "UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) "
        "ELSE [] END) AS u(i))",
        "nodes AS (SELECT src AS token FROM e "
        "UNION SELECT dst FROM e)",
        "n AS (SELECT COUNT(*) AS n_nodes FROM nodes)",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1)",
        "pr0 AS (SELECT token, 1.0 / n_nodes AS pr FROM nodes, n)",
    ]
    prev = "pr0"
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f"m{i} AS (SELECT e.dst AS token, "
            "CAST(SUM(CAST(ROUND(p.pr / deg.outdeg * "
            f"{PR_SCALE}, 0) AS BIGINT)) AS DOUBLE) / {PR_SCALE} "
            f"AS in_mass FROM e JOIN {prev} p ON p.token = e.src "
            "JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        parts.append(
            f"pr{i} AS (SELECT nodes.token, "
            f"(1.0 - {d}) / n_nodes + {d} * COALESCE(m{i}.in_mass, 0.0) "
            f"AS pr FROM nodes LEFT JOIN m{i} ON m{i}.token = nodes.token, n)"
        )
        prev = f"pr{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT token, ROUND(pr, 6) AS pagerank, "
        "CAST(ROW_NUMBER() OVER (ORDER BY ROUND(pr, 6) DESC, token) AS INT) "
        f"AS pos FROM {prev} ORDER BY pos"
    )


ORACLE = {"graph_pagerank_tokens": _pagerank_oracle_sql()}


# --- Oriented triangle counting (Schank 2007; Suri & Vassilvitskii 2011) ----


def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **per-node triangle counts** on the undirected token
    graph via the ORIENTED wedge join (Schank's thesis 2007; the
    MapReduce form is Suri & Vassilvitskii, WWW 2011 — "the curse of
    the last reducer"): orient every undirected edge from the
    lower-(degree, node) endpoint to the higher, generate wedges only
    from each node's ORIENTED out-edges, and close them against the
    oriented edge list. Orientation bounds per-node wedge generation by
    out-degree ≤ O(√|E|) — the high-degree hub that makes the naive
    wedge join quadratic never fans out — which is the difference
    between hours and minutes on a power-law 100 TB graph.

    Node order materializes as an integer rank (one 31-row global
    window, broadcast back onto edges), so every join predicate is an
    integer equi-join/compare. Counts are exact integers — trivially
    deterministic. Each triangle is generated exactly once (its
    lowest-rank corner forms the wedge), then exploded to its three
    corners for the per-node aggregate.
    """
    from pyspark.sql.window import Window

    # round 15: und / rnk / oriented each feed multiple consumers
    # (deg's union reads und twice; rnk feeds both edge endpoints and
    # the final join; the wedge stage and the closing join both read
    # oriented) — eager checkpoints cut the corpus explode+distinct to
    # exactly one execution (CLAUDE.md rule 5).
    directed = _token_edges(spark, sf_dir)
    und = (
        directed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("token"))
        .unionByName(und.select(F.col("b").alias("token")))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    rnk = deg.select(
        "token",
        F.row_number()
        .over(Window.partitionBy().orderBy("deg", "token"))
        .alias("rnk"),
    ).localCheckpoint(eager=True)
    ra = rnk.select(F.col("token").alias("a"), F.col("rnk").alias("rnk_a"))
    rb = rnk.select(F.col("token").alias("b"), F.col("rnk").alias("rnk_b"))
    ranked = und.join(F.broadcast(ra), "a").join(F.broadcast(rb), "b")
    oriented = ranked.select(
        F.least("rnk_a", "rnk_b").alias("u"),
        F.greatest("rnk_a", "rnk_b").alias("v"),
    ).localCheckpoint(eager=True)
    # wedge generation by posting list per out-node (round 15; was an
    # x ⋈ y self-join consuming the oriented subtree twice): oriented
    # pairs are distinct, so the sorted out-list per u has unique
    # values and strict i<j reproduces x.v < y.v exactly. Two-level
    # posexplode keeps generated arrays O(outdeg) — orientation bounds
    # outdeg by O(√|E|), but outdeg² structs in one row is still the
    # wedge count; never build it as a single flattened array.
    wposting = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("vs")
    )
    wex = wposting.select(
        "u", "vs", F.posexplode(F.col("vs")).alias("i", "v1")
    )
    wedges = wex.select(
        "u",
        "v1",
        F.explode(
            F.slice(F.col("vs"), F.col("i") + F.lit(2), F.size(F.col("vs")))
        ).alias("v2"),
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select(
        F.col("u").alias("c1"),
        F.col("v1").alias("c2"),
        F.col("v2").alias("c3"),
    )
    # one explode, not a 3-branch union — a UNION executes its child
    # once PER BRANCH (rule 5 corollary b), i.e. the whole wedge join
    # would run three times
    corners = tri.select(
        F.explode(F.array("c1", "c2", "c3")).alias("rnk")
    )
    return (
        corners.groupBy("rnk")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .join(F.broadcast(rnk), "rnk")
        .select("token", "n_triangles")
        .orderBy("token")
    )


QUERIES["graph_triangle_counts"] = graph_triangle_counts

# oracle counts the same triangles WITHOUT the orientation device: with
# undirected edges stored as a < b (lexicographic), the chain e1=(x,y),
# e2=(y,z), e3=(x,z) enumerates each triangle x<y<z exactly once — the
# equivalence of the two enumerations is itself part of what the
# hash-match verifies
ORACLE["graph_triangle_counts"] = (
    "WITH e0 AS (SELECT DISTINCT toks[i] AS src, toks[i + 1] AS dst FROM ("
    "SELECT string_split(text, ' ') AS toks FROM documents), "
    "UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) "
    "ELSE [] END) AS u(i)), "
    "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM e0 WHERE src <> dst), "
    "tri AS (SELECT e1.a AS c1, e1.b AS c2, e2.b AS c3 "
    "FROM und e1 JOIN und e2 ON e2.a = e1.b "
    "JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b), "
    "corners AS (SELECT c1 AS token FROM tri "
    "UNION ALL SELECT c2 FROM tri UNION ALL SELECT c3 FROM tri) "
    "SELECT token, CAST(COUNT(*) AS BIGINT) AS n_triangles "
    "FROM corners GROUP BY 1 ORDER BY 1"
)


# --- Synchronous label propagation (Raghavan et al. 2007) -------------------

LPA_ITERS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **community detection by label propagation**
    (Raghavan, Albert & Kumara 2007) on the undirected token graph:
    every node starts labelled with itself; each synchronous round a
    node adopts the most frequent label among its neighbors, ties
    broken by the lexicographically smallest label. ``LPA_ITERS``
    unrolled rounds make the whole computation one static DAG (the
    ``graph_pagerank_tokens`` device), so the oracle replays it as
    chained CTEs and the result is fully hash-checked — counts and
    string compares only, no floats anywhere.

    Each round is one join (label lookup by neighbor) + one groupBy
    (votes per (node, label)) + one per-node argmax window — all
    shuffling on node keys, O(|E|) per round. The deterministic
    tie-break replaces the paper's random choice (mandatory for
    cross-engine replay; the paper itself notes ties are arbitrary).
    Synchronous updates can oscillate on bipartite structure — the
    fixed-round snapshot is still deterministic, which is what the
    parity gate needs; production runs to convergence with async
    sweeps.
    """
    directed = _token_edges(spark, sf_dir)
    und = (
        directed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    # round 15: ONE explode builds both edge directions (a 2-branch
    # union executes the corpus explode+distinct once per branch —
    # rule 5 corollary b), and the checkpoint pins nbr for the label
    # init plus every round's vote join (it was re-derived per round).
    nbr = symmetrize(und, "a", "b", "token", "nb").localCheckpoint(eager=True)
    lbl = nbr.select("token").distinct().select(
        "token", F.col("token").alias("label")
    )
    for _ in range(LPA_ITERS):
        votes = (
            nbr.join(
                lbl.select(F.col("token").alias("nb"), "label"), "nb"
            )
            .groupBy("token", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        lbl = top_k(
            votes, "token", 1, F.col("cnt").desc(), F.col("label")
        ).select("token", "label")
    return lbl.select("token", F.col("label").alias("community")).orderBy(
        "token"
    )


QUERIES["graph_label_propagation"] = graph_label_propagation


def _lpa_oracle_sql() -> str:
    parts = [
        "e0 AS (SELECT DISTINCT toks[i] AS src, toks[i + 1] AS dst FROM ("
        "SELECT string_split(text, ' ') AS toks FROM documents), "
        "UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) "
        "ELSE [] END) AS u(i))",
        "und AS (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM e0 WHERE src <> dst)",
        "nbr AS (SELECT a AS token, b AS nb FROM und "
        "UNION ALL SELECT b, a FROM und)",
        "l0 AS (SELECT DISTINCT token, token AS label FROM nbr)",
    ]
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        parts.append(
            f"v{i} AS (SELECT n.token, l.label, COUNT(*) AS cnt "
            f"FROM nbr n JOIN {prev} l ON l.token = n.nb GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i} AS (SELECT token, label FROM ("
            "SELECT token, label, ROW_NUMBER() OVER ("
            "PARTITION BY token ORDER BY cnt DESC, label) AS rn "
            f"FROM v{i}) WHERE rn = 1)"
        )
        prev = f"l{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT token, label AS community FROM {prev} ORDER BY token"
    )


ORACLE["graph_label_propagation"] = _lpa_oracle_sql()


# --- Connected components over the co-purchase graph ------------------------

CC_MIN_SUPPORT = 2  # pair must co-occur in >= 2 orders (sparsifies the graph)
CC_MAX_ROUNDS = 50


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supported co-purchase part pairs ``(pa, pb)`` with pa < pb — the
    shared edge generator of the CC / k-core / assortativity / BFS /
    personalized-PageRank family.

    Posting-list pair generation (round 15; CLAUDE.md rule 5
    corollary a — the round-12 dedup lesson applied to the basket
    graph): group lineitem by order key, sort each basket's part list,
    explode the i<j combinations — ONE lineitem scan and ONE exchange
    instead of the previous self-join's two scans + two exchanges + a
    sort-merge join. Multiplicity is the self-join's EXACTLY: the
    basket keeps duplicate (order, part) lines (``collect_list``, not
    ``collect_set`` — the fixtures hold 55-65 duplicate (ok, pk) groups
    per SF), every index pair i<j with differing values contributes one
    pair, so a part on two lines pairs twice with each neighbour
    (cnt_p x cnt_q per order = the join's row count), and sorting makes
    ps[i] <= ps[j], so (pa, pb) = (ps[i], ps[j]) directly; the ``!=``
    filter drops the equal-part pairs the strict ``a.pk < b.pk`` join
    condition excluded. Per-order fan-out stays bounded by basket size
    (~7), so candidate volume is O(|orders| * k^2), never cross-join
    shaped; the support HAVING prunes before any graph work."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    baskets = li.groupBy("ok").agg(
        F.sort_array(F.collect_list("pk")).alias("ps")
    )
    # round 16: i<j combinations via TWO codegen'd Generate nodes
    # (posexplode, then explode of the per-index tail slice) instead of
    # the round-15 nested transform/filter/flatten HOF chain — Spark's
    # higher-order functions evaluate their lambdas INTERPRETED, outside
    # whole-stage codegen, and the per-element struct construction was
    # the measured hot spot (30x facts, noop sink: baskets 1.7 s,
    # +HOF explode 5.6 s, +groupBy 7.0 s → double-explode form 3.55 s
    # end-to-end — 2.0x on the whole generator, identical 1,196,000
    # output rows). Index pairs, multiplicity and the pa != pb filter
    # are exactly the HOF form's: slice(ps, i+2, size) is the strict
    # upper tail of a sorted basket, so (pa, pb) = (ps[i], ps[j]), i<j.
    from ..functions.pairgen import posting_pairs

    pairs_raw = posting_pairs(baskets, "ps", "pa", "pb").filter(
        F.col("pa") != F.col("pb")
    )
    return (
        pairs_raw.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= CC_MIN_SUPPORT)
        .select("pa", "pb")
    )


def min_label_components(
    edges: DataFrame, labels0: DataFrame, *, rounds: int, name: str
) -> tuple[DataFrame, int]:
    """Connected components by iterative **min-label propagation**
    (Pregel-lite) over a directed-both-ways edge list ``(src, dst)``:
    ``labels0`` is ``(node, label)`` with label = node, covering every
    node to label (isolated ones keep their own). Each round every node
    takes the minimum label among itself and its neighbors — ONE O(|E|)
    join on the node key + a map-side-combinable ``min`` + the
    label-update join, whose changed flag (neighbor min improves the
    label) drives ``fixpoint``'s stop. Rounds needed = max distance to a
    component's min node; ``rounds`` caps them and non-convergence
    raises. Returns ``(labels, rounds_run)`` with ``labels0``'s columns.

    Late rounds concentrate each component's min label into one hot
    join key — AQE skew-split handles it (large-star/small-star splits
    it algorithmically if needed)."""
    node, label = labels0.columns
    edges = edges.cache()

    def step(labels: DataFrame, _r: int) -> DataFrame:
        labels = labels.select(node, label)
        neigh = (
            edges.join(labels, edges.dst == labels[node])
            .groupBy("src")
            .agg(F.min(label).alias("neigh_min"))
        )
        return labels.join(neigh, labels[node] == neigh.src, "left").select(
            node,
            F.least(F.col(label), F.coalesce("neigh_min", label)).alias(label),
            (F.coalesce("neigh_min", label) < F.col(label)).alias("_changed"),
        )

    try:
        labels, n = fixpoint(
            labels0, step, rounds=rounds, changed=F.col("_changed"), name=name
        )
    finally:
        edges.unpersist()
    return labels.select(node, label), n


def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **connected components** of the part CO-PURCHASE
    graph (nodes = parts, edge iff two parts appear in the same order in
    ``CC_MIN_SUPPORT``-or-more orders — the support filter of
    ``mine_association_rules`` applied as a graph sparsifier, which is
    what makes the component structure non-trivial: the unfiltered
    basket graph collapses into one giant component). Component id =
    minimum part key in the component — the product-substitution /
    assortment-cluster question ("which parts sell together,
    transitively?") that basket analysis asks after pairwise lift.

    Algorithm: `min_label_components` (the device `dedup_clusters`
    shares) over the symmetrized co-purchase edges; the sf0.01 fixture
    needs 10 rounds, ``CC_MAX_ROUNDS`` caps them.

    Scale: pair generation is the posting-list explode of
    `_copurchase_pairs` (round 15 — one lineitem scan, one exchange;
    per-order fan-out bounded by basket size ~7, so candidate volume
    is O(|orders| * k²), never cross-join shaped); the support HAVING
    prunes before any graph work. Integer labels, counts only — no
    floats — fully hash-checked.

    vs reference: no analogue (the reference has no graph surface).
    """
    edges = symmetrize(
        _copurchase_pairs(spark, sf_dir), "pa", "pb", "src", "dst"
    )
    labels0 = (
        edges.select(F.col("src").alias("part"))
        .distinct()
        .select("part", F.col("part").alias("component"))
    )
    labels, _ = min_label_components(
        edges, labels0, rounds=CC_MAX_ROUNDS, name="graph_connected_components"
    )
    # comp_size via a window, not a groupBy+self-join — the checkpointed
    # frame serves both consumers from its materialized blocks either
    # way, but the window keeps it to one pass and one exchange
    from pyspark.sql.window import Window

    return labels.select(
        "part",
        "component",
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("int")
        .alias("comp_size"),
    ).orderBy("part")


QUERIES["graph_connected_components"] = graph_connected_components

# oracle: transitive min label by recursive reachability (the
# dedup_clusters device) over the identical support-filtered edge list
ORACLE["graph_connected_components"] = (
    "WITH RECURSIVE pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb "
    "FROM lineitem a JOIN lineitem b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    f"GROUP BY 1, 2 HAVING COUNT(*) >= {CC_MIN_SUPPORT}), "
    "e AS (SELECT pa AS src, pb AS dst FROM pr "
    "UNION ALL SELECT pb, pa FROM pr), "
    "reach(src, lbl) AS ("
    "SELECT DISTINCT src, src FROM e "
    "UNION "
    "SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.src), "
    "lab AS (SELECT src AS part, MIN(lbl) AS component "
    "FROM reach GROUP BY src) "
    "SELECT part, component, "
    "CAST(COUNT(*) OVER (PARTITION BY component) AS INT) AS comp_size "
    "FROM lab ORDER BY part"
)


# --- Resource-Allocation link prediction (Zhou, Lu & Zhang 2009) -------------

RA_MAX_DEG = 64  # common-neighbor degree cap — see docstring
RA_SCALE = 1_000_000_000_000.0  # pico-units: 1/deg exact to 12 dp
RA_TOP_K = 50


def graph_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **link prediction by the Resource-Allocation index**
    (Zhou, Lü & Zhang, Eur. Phys. J. B 71:623, 2009) on the undirected
    token graph: for each NON-adjacent pair (x, y),
    ``RA(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/deg(z)`` — the top-scored pairs are
    the missing-edge predictions. RA is the exact-arithmetic sibling of
    Adamic-Adar (1/log deg): 1/deg is a ratio of exact integers, so the
    per-z weight ``round(1e12/deg)`` is one correctly-rounded IEEE
    division + ties-away round in BOTH engines and the pair score
    accumulates as an exact int64 — no FP-sum order dependence, no
    cross-engine ``log`` ULP risk.

    Candidate generation is the posting-list device (CLAUDE.md rule 5,
    the dedup `_pair_counts` shape): group neighbors by the COMMON node
    z, emit sorted i<j combinations — never an all-pairs join. Fan-out
    per z is C(deg, 2), so the degree cap ``deg(z) <= 64`` bounds it at
    ~2k pairs per node; the cap is part of the scoring contract
    (mirrored in the oracle) and is the standard hub approximation —  a
    hub's contribution 1/deg is already ~0, so dropping it changes
    scores by < 1/64 per hub while turning a power-law quadratic blowup
    into bounded work (the Suri-Vassilvitskii "curse of the last
    reducer" argument, same as `graph_triangle_counts`). Existing edges
    leave via a keyed anti-join; top-k is TakeOrdered on the EXACT
    integer score with a (token_a, token_b) total tiebreaker — no
    global sort.

    vs reference: no analogue (the reference has no graph surface).
    """
    # round 15: und feeds both nbr directions AND the final anti-join —
    # checkpoint it so the corpus explode+distinct runs once, and build
    # nbr with ONE explode instead of a 2-branch union (rule 5 + b).
    directed = _token_edges(spark, sf_dir)
    und = (
        directed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nbr = und.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("z"), F.col("b").alias("x")),
                F.struct(F.col("b").alias("z"), F.col("a").alias("x")),
            )
        ).alias("e")
    ).select("e.z", "e.x")
    from ..functions.numerics import dround

    posting = (
        nbr.groupBy("z")
        .agg(F.sort_array(F.collect_list("x")).alias("xs"))
        .filter((F.size("xs") >= 2) & (F.size("xs") <= RA_MAX_DEG))
        .select(
            dround(F.lit(RA_SCALE) / F.size("xs"), 0).cast("long").alias("w"),
            F.col("xs"),
        )
    )
    # codegen'd Generate-chain pairgen (round 16) — identical i<j
    # multiset, no interpreted HOF lambdas (see functions/pairgen.py)
    from ..functions.pairgen import posting_pairs

    pairs = posting_pairs(
        posting, "xs", "token_a", "token_b", pass_cols=("w",)
    ).select("token_a", "token_b", "w")
    scored = pairs.groupBy("token_a", "token_b").agg(
        F.sum("w").alias("sw")
    )
    new_links = scored.join(
        und,
        (scored["token_a"] == und["a"]) & (scored["token_b"] == und["b"]),
        "left_anti",
    )
    return (
        new_links.orderBy(
            F.col("sw").desc(), "token_a", "token_b"
        )
        .limit(RA_TOP_K)
        .select(
            "token_a",
            "token_b",
            dround(F.col("sw").cast("double") / RA_SCALE, 6).alias(
                "ra_score"
            ),
        )
    )


QUERIES["graph_link_prediction_ra"] = graph_link_prediction_ra

ORACLE["graph_link_prediction_ra"] = (
    "WITH e0 AS (SELECT DISTINCT toks[i] AS src, toks[i + 1] AS dst FROM ("
    "SELECT string_split(text, ' ') AS toks FROM documents), "
    "UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) "
    "ELSE [] END) AS u(i)), "
    "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM e0 WHERE src <> dst), "
    "nbr AS (SELECT a AS z, b AS x FROM und "
    "UNION ALL SELECT b, a FROM und), "
    "deg AS (SELECT z, COUNT(*) AS deg FROM nbr GROUP BY 1), "
    f"w AS (SELECT z, CAST(ROUND({RA_SCALE} / deg) AS BIGINT) AS w "
    f"FROM deg WHERE deg >= 2 AND deg <= {RA_MAX_DEG}), "
    "p AS (SELECT n1.x AS token_a, n2.x AS token_b, w.w "
    "FROM nbr n1 JOIN nbr n2 ON n1.z = n2.z AND n1.x < n2.x "
    "JOIN w ON w.z = n1.z), "
    "s AS (SELECT token_a, token_b, CAST(SUM(w) AS BIGINT) AS sw "
    "FROM p GROUP BY 1, 2), "
    "nf AS (SELECT s.* FROM s WHERE NOT EXISTS (SELECT 1 FROM und "
    "WHERE und.a = s.token_a AND und.b = s.token_b)) "
    "SELECT token_a, token_b, "
    f"ROUND(CAST(sw AS DOUBLE) / {RA_SCALE}, 6) AS ra_score "
    f"FROM nf ORDER BY sw DESC, token_a, token_b LIMIT {RA_TOP_K}"
)


# --- k-core peeling (Seidman 1983) over the part co-purchase graph ----------

KCORE_K = 2  # peel nodes with degree < 2
KCORE_ROUNDS = 4  # FIXED unrolled peel rounds — part of the contract


def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **k-core peeling** (Seidman, Social Networks 1983;
    the distributed peel is Montresor et al., TPDS 2013): iteratively
    remove nodes of degree < k from the part CO-PURCHASE graph (the
    `graph_connected_components` edge relation) to expose its dense
    backbone — the assortment-analysis question after components:
    "which parts sit in densely cross-sold neighborhoods?" (components
    find reachability; cores find density).

    Contract: exactly ``KCORE_ROUNDS`` peel rounds in BOTH engines —
    fixed unrolling, not convergence detection, so the result is
    deterministic whether or not the fixpoint is reached (the k=2 peel
    is still shrinking at round 4 on both fixtures: 3638 → 3315
    edges at sf0.01, 3853 → 24 at sf0.1 — the support-2 graph thins
    as SF grows, so the dense backbone sharpens; whether round r
    shrinks is itself pinned by the hash).
    Output: each surviving part with its residual degree — exact
    integers only.

    Scale: pair generation is the shared posting-list explode
    (`_copurchase_pairs`, never cross-join shaped); each peel round is one
    map-side-combinable degree aggregate (ONE explode pass — round 16
    replaced the 2-branch union that read the edge list once per
    branch) + two BROADCAST semi-joins of the kept-node set
    (vocabulary-sized, shrinking monotonically, **checkpointed each round**
    — the two broadcast builds have different canonical plans, so an
    uncheckpointed ``keep`` re-ran the whole degree aggregate once per
    build); the peeled edge list is the `fixpoint` state, cut every
    round.

    vs reference: no analogue (no graph surface in `dashboard_nfp.py`).
    """
    # posting-list pair generation — one lineitem scan, one exchange
    # (round 15; was a two-scan self-join, see _copurchase_pairs)
    edges = (
        _copurchase_pairs(spark, sf_dir)
        .select(F.col("pa").alias("na"), F.col("pb").alias("nb"))
        .localCheckpoint(eager=True)  # corpus-sized work done exactly once
    )

    def peel(edges: DataFrame, _r: int) -> DataFrame:
        # one explode instead of a 2-branch union: the union executed the
        # (checkpointed) edge scan once per branch (rule 5 corollary b —
        # cheap block reads here, but still two passes + two codegen'd
        # pipelines where one suffices)
        deg = (
            edges.select(
                F.explode(F.array(F.col("na"), F.col("nb"))).alias("part")
            )
            .groupBy("part")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # checkpoint the TINY surviving-node set (round 16): it is consumed
        # by TWO broadcast builds below, whose canonical plans differ (na vs
        # nb alias) so Spark builds each independently — without the cut
        # the whole degree aggregate executed twice per peel round
        # (CLAUDE.md rule 5; vocabulary-sized frame, shrinking every round)
        keep = (
            deg.filter(F.col("deg") >= KCORE_K)
            .select("part")
            .localCheckpoint(eager=True)
        )
        return (
            edges.join(
                F.broadcast(keep.select(F.col("part").alias("na"))), "na"
            )
            .join(
                F.broadcast(keep.select(F.col("part").alias("nb"))), "nb"
            )
            .select("na", "nb")
        )

    edges, _ = fixpoint(
        edges, peel, rounds=KCORE_ROUNDS, name="graph_kcore_peel"
    )
    return (
        edges.select(
            F.explode(F.array(F.col("na"), F.col("nb"))).alias("part")
        )
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("int").alias("deg"))
        .orderBy("part")
    )


QUERIES["graph_kcore_peel"] = graph_kcore_peel


def _kcore_oracle_sql() -> str:
    """Identical fixed-round peel, unrolled as MATERIALIZED CTEs (without
    MATERIALIZED DuckDB re-inlines each generation 3x per round — a 3^4
    plan blowup measured as a >2 min hang on the sf0.01 fixture)."""
    sql = (
        "WITH pr AS MATERIALIZED (SELECT a.l_partkey AS pa, "
        "b.l_partkey AS pb FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        f"GROUP BY 1, 2 HAVING COUNT(*) >= {CC_MIN_SUPPORT}), "
        "e0 AS MATERIALIZED (SELECT pa AS na, pb AS nb FROM pr)"
    )
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        sql += (
            f", d{r} AS MATERIALIZED (SELECT part, COUNT(*) AS deg FROM "
            f"(SELECT na AS part FROM {prev} "
            f"UNION ALL SELECT nb FROM {prev}) GROUP BY 1)"
            f", k{r} AS MATERIALIZED (SELECT part FROM d{r} "
            f"WHERE deg >= {KCORE_K})"
            f", e{r} AS MATERIALIZED (SELECT {prev}.na AS na, "
            f"{prev}.nb AS nb FROM {prev} "
            f"JOIN k{r} ka ON ka.part = {prev}.na "
            f"JOIN k{r} kb ON kb.part = {prev}.nb)"
        )
        prev = f"e{r}"
    sql += (
        f" SELECT part, CAST(COUNT(*) AS INT) AS deg FROM "
        f"(SELECT na AS part FROM {prev} UNION ALL SELECT nb FROM {prev}) "
        "GROUP BY 1 ORDER BY 1"
    )
    return sql


ORACLE["graph_kcore_peel"] = _kcore_oracle_sql()


# --- Degree assortativity (Newman 2002) ----------------------------------------


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **degree assortativity coefficient** (Newman, PRL
    2002): the Pearson correlation of endpoint degrees across edges of
    the part co-purchase graph — do well-connected parts co-sell with
    other hubs (assortative, r > 0, social-network-like) or with
    peripherals (disassortative, r < 0, technological/biological-like)?
    The one-number structural summary after `graph_triangle_counts`'
    clustering and `graph_kcore_peel`'s density backbone.

    Exactness: over the DIRECTED double-counted edge list (each
    undirected edge contributes (j,k) and (k,j)), the coefficient's
    /M normalizations clear to the integer form
    r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) — numerator and denominator
    are exact integers (DECIMAL(38,0) ≡ HUGEINT), so r is ONE double
    division, `dround`ed at 6 dp. Degenerate regular graphs (zero
    denominator) drop on the exact integer predicate in both engines.

    Scale: the pair generation is the shared posting-list explode
    (`_copurchase_pairs`); degrees are one aggregate broadcast onto the edge list;
    the moments are one map-side-combinable aggregate. No floats until
    the final division."""
    # posting-list pair generation — one lineitem scan, one exchange
    # (round 15; was a two-scan self-join, see _copurchase_pairs)
    und = _copurchase_pairs(spark, sf_dir)
    # one-pass symmetrize + checkpoint: directed feeds the degree agg
    # AND the endpoint-annotated edge list (round 15, rule 5)
    directed = symmetrize(und, "pa", "pb", "u", "w").localCheckpoint(
        eager=True
    )
    deg = directed.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    dj = deg.select(F.col("node").alias("u"), F.col("d").alias("j"))
    dk = deg.select(F.col("node").alias("w"), F.col("d").alias("k"))
    edges = directed.join(F.broadcast(dj), "u").join(F.broadcast(dk), "w")

    mom = edges.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("j").alias("s1"),
        F.sum(d38("j") * F.col("j")).alias("s2"),
        F.sum(d38("j") * F.col("k")).alias("s3"),
    )
    num = d38("m") * F.col("s3") - d38("s1") * F.col("s1")
    den = d38("m") * F.col("s2") - d38("s1") * F.col("s1")
    return (
        mom.filter(den != 0)
        .select(
            (F.col("m") / F.lit(2)).cast("long").alias("n_edges"),
            dround(num.cast("double") / den.cast("double"), 6).alias(
                "assortativity"
            ),
        )
    )


QUERIES["graph_degree_assortativity"] = graph_degree_assortativity

ORACLE["graph_degree_assortativity"] = (
    "WITH pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb "
    "FROM lineitem a JOIN lineitem b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    f"GROUP BY 1, 2 HAVING COUNT(*) >= {CC_MIN_SUPPORT}), "
    "d AS (SELECT pa AS u, pb AS w FROM pr "
    "UNION ALL SELECT pb, pa FROM pr), "
    "deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS dg "
    "FROM d GROUP BY 1), "
    "e AS (SELECT dj.dg AS j, dk.dg AS k FROM d "
    "JOIN deg dj ON dj.node = d.u JOIN deg dk ON dk.node = d.w), "
    "mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, "
    "CAST(SUM(j) AS BIGINT) AS s1, "
    "CAST(SUM(CAST(j AS HUGEINT) * j) AS HUGEINT) AS s2, "
    "CAST(SUM(CAST(j AS HUGEINT) * k) AS HUGEINT) AS s3 FROM e) "
    "SELECT CAST(m // 2 AS BIGINT) AS n_edges, "
    "ROUND(CAST(CAST(m AS HUGEINT) * s3 "
    "- CAST(s1 AS HUGEINT) * s1 AS DOUBLE) "
    "/ CAST(CAST(m AS HUGEINT) * s2 "
    "- CAST(s1 AS HUGEINT) * s1 AS DOUBLE), 6) AS assortativity "
    "FROM mom WHERE CAST(m AS HUGEINT) * s2 "
    "- CAST(s1 AS HUGEINT) * s1 <> 0"
)


# --- Local clustering coefficient (Watts-Strogatz 1998) ---------------------


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Per-node local clustering coefficient** (Watts & Strogatz,
    Nature 1998) on the undirected token graph:
    C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close each node's
    neighborhood is to a clique. The per-node normalization of
    `graph_triangle_counts` (same oriented-wedge triangle enumeration,
    Schank 2007 / Suri-Vassilvitskii WWW'11), completing the local
    structure family beside `graph_degree_assortativity`'s global
    mixing coefficient.

    Exactness: T and deg are exact integers; C is ONE division of
    exact ints (2T cannot overflow: T ≤ C(deg,2) ≤ deg² with deg
    bounded by the vocabulary), `dround` 6. Nodes with deg < 2 are
    excluded in both engines (C undefined — a 0.0 would skew any
    average a user takes downstream).

    Scale: identical physical shape to the triangle operator — the
    orientation bounds wedge fan-out by O(√|E|); the deg join is
    node-keyed."""
    from pyspark.sql.window import Window

    # round 15: same plan surgery as graph_triangle_counts — eager
    # checkpoints on the multi-consumer frames (und / rnk / oriented),
    # posting-list wedge generation instead of the x ⋈ y self-join,
    # and a single corner explode instead of the 3-branch union
    # (rule 5 and corollaries a/b).
    directed = _token_edges(spark, sf_dir)
    und = (
        directed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("token"))
        .unionByName(und.select(F.col("b").alias("token")))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    rnk = deg.select(
        "token",
        F.col("degree").alias("deg"),
        F.row_number()
        .over(Window.partitionBy().orderBy("degree", "token"))
        .alias("rnk"),
    ).localCheckpoint(eager=True)
    ra = rnk.select(F.col("token").alias("a"), F.col("rnk").alias("rnk_a"))
    rb = rnk.select(F.col("token").alias("b"), F.col("rnk").alias("rnk_b"))
    ranked = und.join(F.broadcast(ra), "a").join(F.broadcast(rb), "b")
    oriented = ranked.select(
        F.least("rnk_a", "rnk_b").alias("u"),
        F.greatest("rnk_a", "rnk_b").alias("v"),
    ).localCheckpoint(eager=True)
    wposting = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("vs")
    )
    wex = wposting.select(
        "u", "vs", F.posexplode(F.col("vs")).alias("i", "v1")
    )
    wedges = wex.select(
        "u",
        "v1",
        F.explode(
            F.slice(F.col("vs"), F.col("i") + F.lit(2), F.size(F.col("vs")))
        ).alias("v2"),
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select(
        F.col("u").alias("c1"),
        F.col("v1").alias("c2"),
        F.col("v2").alias("c3"),
    )
    corners = tri.select(
        F.explode(F.array("c1", "c2", "c3")).alias("rnk")
    )
    tcount = corners.groupBy("rnk").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    from ..functions.numerics import dround

    joined = (
        rnk.join(tcount, "rnk", "left")
        .select(
            "token",
            F.col("deg").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
        .filter(F.col("degree") >= 2)
    )
    return joined.select(
        "token",
        F.col("degree").cast("long").alias("degree"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        dround(
            (F.lit(2) * F.col("n_triangles")).cast("double")
            / (F.col("degree") * (F.col("degree") - F.lit(1))).cast(
                "double"
            ),
            6,
        ).alias("clustering_coef"),
    ).orderBy("token")


QUERIES["graph_clustering_coefficient"] = graph_clustering_coefficient

ORACLE["graph_clustering_coefficient"] = (
    "WITH e0 AS (SELECT DISTINCT toks[i] AS src, toks[i + 1] AS dst FROM ("
    "SELECT string_split(text, ' ') AS toks FROM documents), "
    "UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) "
    "ELSE [] END) AS u(i)), "
    "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM e0 WHERE src <> dst), "
    "deg AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS degree FROM ("
    "SELECT a AS token FROM und UNION ALL SELECT b FROM und) GROUP BY 1), "
    "tri AS (SELECT e1.a AS c1, e1.b AS c2, e2.b AS c3 "
    "FROM und e1 JOIN und e2 ON e2.a = e1.b "
    "JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b), "
    "corners AS (SELECT c1 AS token FROM tri "
    "UNION ALL SELECT c2 FROM tri UNION ALL SELECT c3 FROM tri), "
    "tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_triangles "
    "FROM corners GROUP BY 1) "
    "SELECT deg.token, degree, COALESCE(tc.n_triangles, 0) AS n_triangles, "
    "ROUND(CAST(2 * COALESCE(tc.n_triangles, 0) AS DOUBLE) "
    "/ CAST(degree * (degree - 1) AS DOUBLE), 6) AS clustering_coef "
    "FROM deg LEFT JOIN tc ON deg.token = tc.token "
    "WHERE degree >= 2 ORDER BY deg.token"
)


# --- Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg 2003) -----

JC_TOP_K = 50
JC_SCALE = 1_000_000_000_000.0  # exact-int sort key: 12-dp Jaccard


def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Link prediction by the Jaccard coefficient** (Liben-Nowell &
    Kleinberg, CIKM 2003) on the undirected token graph: for each
    non-adjacent pair, J(x,y) = |N(x)∩N(y)| / |N(x)∪N(y)| =
    cn / (deg(x) + deg(y) − cn) — the normalized companion of
    `graph_link_prediction_ra` (RA weights rare common neighbors;
    Jaccard normalizes by neighborhood size, so high-degree nodes
    must share proportionally more).

    Same candidate-generation contract as RA: posting-list i<j
    combinations per common neighbor z with the deg(z) ≤ 64 hub cap
    (mirrored in the oracle — common neighbors are enumerated through
    non-hub nodes; the DENOMINATOR degrees stay exact full degrees).
    cn and both degrees are exact integers; the sort key is the
    12-dp scaled-int Jaccard (one IEEE division + ties-away round in
    both engines), the exposed ratio its 6-dp round; tiebreak
    (token_a, token_b) is total. Top-k is TakeOrdered on the exact
    int — no global sort.

    vs reference: no analogue (the reference has no graph surface)."""
    # round 15: und feeds both nbr directions and the final anti-join;
    # deg feeds BOTH endpoint joins — checkpoints cut the corpus
    # explode+distinct to one execution, and nbr builds with ONE
    # explode instead of a 2-branch union (rule 5 + corollary b).
    directed = _token_edges(spark, sf_dir)
    und = (
        directed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nbr = und.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("z"), F.col("b").alias("x")),
                F.struct(F.col("b").alias("z"), F.col("a").alias("x")),
            )
        ).alias("e")
    ).select("e.z", "e.x")
    deg = (
        nbr.groupBy(F.col("z").alias("token"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    posting = (
        nbr.groupBy("z")
        .agg(F.sort_array(F.collect_list("x")).alias("xs"))
        .filter((F.size("xs") >= 2) & (F.size("xs") <= RA_MAX_DEG))
    )
    # codegen'd Generate-chain pairgen (round 16) — identical i<j
    # multiset, no interpreted HOF lambdas (see functions/pairgen.py)
    from ..functions.pairgen import posting_pairs

    pairs = posting_pairs(posting, "xs", "token_a", "token_b").select(
        "token_a", "token_b"
    )
    cn = pairs.groupBy("token_a", "token_b").agg(
        F.count(F.lit(1)).alias("cn")
    )
    da = deg.select(F.col("token").alias("token_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("token").alias("token_b"), F.col("deg").alias("db"))
    scored = cn.join(F.broadcast(da), "token_a").join(
        F.broadcast(db), "token_b"
    )
    new_links = scored.join(
        und,
        (scored["token_a"] == und["a"]) & (scored["token_b"] == und["b"]),
        "left_anti",
    )
    from ..functions.numerics import dround

    union_sz = (F.col("da") + F.col("db") - F.col("cn")).cast("double")
    key = dround(
        F.lit(JC_SCALE) * F.col("cn").cast("double") / union_sz, 0
    ).cast("long")
    return (
        new_links.withColumn("k", key)
        .orderBy(F.col("k").desc(), "token_a", "token_b")
        .limit(JC_TOP_K)
        .select(
            "token_a",
            "token_b",
            F.col("cn").cast("long").alias("common_neighbors"),
            dround(F.col("cn").cast("double") / union_sz, 6).alias(
                "jaccard"
            ),
        )
    )


QUERIES["graph_link_prediction_jaccard"] = graph_link_prediction_jaccard

ORACLE["graph_link_prediction_jaccard"] = (
    "WITH e0 AS (SELECT DISTINCT toks[i] AS src, toks[i + 1] AS dst FROM ("
    "SELECT string_split(text, ' ') AS toks FROM documents), "
    "UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) "
    "ELSE [] END) AS u(i)), "
    "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM e0 WHERE src <> dst), "
    "nbr AS (SELECT a AS z, b AS x FROM und "
    "UNION ALL SELECT b, a FROM und), "
    "deg AS (SELECT z AS token, CAST(COUNT(*) AS BIGINT) AS deg "
    "FROM nbr GROUP BY 1), "
    "hub AS (SELECT token FROM deg "
    f"WHERE deg >= 2 AND deg <= {RA_MAX_DEG}), "
    "p AS (SELECT n1.x AS token_a, n2.x AS token_b "
    "FROM nbr n1 JOIN nbr n2 ON n1.z = n2.z AND n1.x < n2.x "
    "JOIN hub ON hub.token = n1.z), "
    "cn AS (SELECT token_a, token_b, CAST(COUNT(*) AS BIGINT) AS cn "
    "FROM p GROUP BY 1, 2), "
    "s AS (SELECT cn.token_a, cn.token_b, cn.cn, da.deg AS da, "
    "db.deg AS db FROM cn "
    "JOIN deg da ON da.token = cn.token_a "
    "JOIN deg db ON db.token = cn.token_b), "
    "nf AS (SELECT s.* FROM s WHERE NOT EXISTS (SELECT 1 FROM und "
    "WHERE und.a = s.token_a AND und.b = s.token_b)) "
    "SELECT token_a, token_b, cn AS common_neighbors, "
    "ROUND(CAST(cn AS DOUBLE) / CAST(da + db - cn AS DOUBLE), 6) "
    "AS jaccard "
    "FROM nf ORDER BY CAST(ROUND("
    f"{JC_SCALE} * CAST(cn AS DOUBLE) / CAST(da + db - cn AS DOUBLE)"
    ") AS BIGINT) DESC, token_a, token_b "
    f"LIMIT {JC_TOP_K}"
)


# --- BFS hop distance from the hub part over the co-purchase graph -----------

BFS_MAX_ROUNDS = 50


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Single-source BFS hop distance** over the support-filtered
    part co-purchase graph (the `graph_connected_components` edge
    relation): unweighted shortest-path hops from the graph's minimum
    part key — "how many substitution steps from the hub part" (the
    ego-network radius question; Pregel/GraphX's canonical example,
    here as iterative frontier expansion in plain DataFrames).

    Algorithm: frontier BFS over ONE carried frame, the distance table
    with a ``_new`` flag on the rows reached last round (the frontier).
    Each round joins only the frontier to the edge list, stamps the
    round number on the reached neighbors, and folds them into the
    table with one ``min(hops)`` aggregate per node: a node is new iff
    its minimum is this round. `fixpoint` cuts the table every round
    and stops when no row is new (rounds needed = the component's
    eccentricity from the seed); non-convergence within
    ``BFS_MAX_ROUNDS`` raises. The fold replaces a distinct + an
    anti-join against the table + a union: one exchange instead of
    two, and no second broadcast of the table.

    Determinism: integer node keys and hop counts only; the seed (MIN
    part key) is computed as a 1-row aggregate broadcast-joined in —
    no driver-side collect. Fully hash-checked against a recursive-CTE
    oracle that enumerates (node, hops) pairs with UNION-dedup and
    takes MIN(hops) per node.

    Scale: the edge join reads only the frontier, O(frontier x
    avg-degree) per round — frontier BFS's whole point at 100 TB
    (joining the full distance table every round would be O(|E|) per
    round); the fold shuffles that plus the O(V) table, keyed on
    integer part keys. AQE handles the late-round hub skew.
    """
    # posting-list pair generation — one lineitem scan, one exchange
    # (round 15; was a two-scan self-join, see _copurchase_pairs)
    pairs = _copurchase_pairs(spark, sf_dir)
    edges = symmetrize(pairs, "pa", "pb", "src", "dst").cache()
    seed = (
        edges.agg(F.min("src").alias("part"))
        .select("part", F.lit(0).alias("hops"), F.lit(True).alias("_new"))
        .localCheckpoint(eager=True)
    )

    def expand(dist: DataFrame, hop: int) -> DataFrame:
        frontier = dist.filter(F.col("_new"))
        reached = edges.join(frontier, edges.src == frontier.part).select(
            F.col("dst").alias("part"), F.lit(hop).alias("hops")
        )
        return (
            dist.select("part", "hops")
            .unionByName(reached)
            .groupBy("part")
            .agg(F.min("hops").alias("hops"))
            .withColumn("_new", F.col("hops") == hop)
        )

    try:
        dist, _ = fixpoint(
            seed, expand, rounds=BFS_MAX_ROUNDS, changed=F.col("_new"),
            name="graph_bfs_hops",
        )
    finally:
        edges.unpersist()
    return dist.select("part", F.col("hops").cast("int")).orderBy("part")


QUERIES["graph_bfs_hops"] = graph_bfs_hops

# oracle: recursive (node, hops) enumeration with UNION dedup — hops
# strictly increases and is capped, so the recursion terminates; the
# MIN(hops) per node is the BFS distance
ORACLE["graph_bfs_hops"] = (
    "WITH RECURSIVE pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb "
    "FROM lineitem a JOIN lineitem b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    f"GROUP BY 1, 2 HAVING COUNT(*) >= {CC_MIN_SUPPORT}), "
    "e AS (SELECT pa AS src, pb AS dst FROM pr "
    "UNION ALL SELECT pb, pa FROM pr), "
    "seed AS (SELECT MIN(src) AS s FROM e), "
    "walk(node, hops) AS ("
    "SELECT s, 0 FROM seed "
    "UNION "
    "SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node "
    f"WHERE w.hops < {BFS_MAX_ROUNDS}) "
    "SELECT node AS part, CAST(MIN(hops) AS INT) AS hops "
    "FROM walk GROUP BY node ORDER BY part"
)


# --- HITS hubs & authorities on the customer->part purchase graph -----------

HITS_ITERS = 4
HITS_SCALE = 1_000_000_000_000.0  # L1-normalized scores as pico-units
HITS_TOP_K = 50


def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **HITS hubs and authorities** (Kleinberg, JACM
    1999) on the bipartite customer→part purchase graph: authority(p)
    = Σ_{c→p} hub(c), hub(c) = Σ_{c→p} authority(p), each side
    L1-normalized per half-step — ``HITS_ITERS`` fixed unrolled
    iterations. The mutual-reinforcement ranking beside
    `graph_pagerank_tokens`' random-walk ranking: authorities are
    parts bought by broad-basket customers, hubs are customers whose
    baskets span authoritative parts (the two-sided "power user /
    staple product" view a merchandiser reads).

    Determinism: after every normalization the scores quantize to
    scaled int64 (round((raw/Σraw)·1e12) — both engines round the
    identical double off exact integer sums), so each half-step's
    contribution sums are EXACT integer aggregates in DECIMAL(38,0) ≡
    HUGEINT and the whole iteration is bit-stable at any partition
    count. Top-k per side under a (score desc, node id) total order.

    Scale: the edge list builds once (SHUFFLE_HASH orderkey equi-join +
    distinct — no 18M-row sorts) and is localCheckpoint-ed; each RAW
    half-step frame localCheckpoints to cut the unrolled lineage
    (CLAUDE.md rule 5 — the totals agg and the normalize both reference
    it, so an uncheckpointed unroll would double the plan per level);
    the half-step joins BROADCAST the node-sized score frame under the
    `io.broadcastable` gate (zero edge shuffles per half-step), degrading
    to the node-keyed shuffle join past it. Round-15 sweep: 10.5 s →
    6.0 s at 30x facts (6.3x DuckDB — serial half-step stage latency
    over the fixture's SATURATED ~600k-edge graph dominates there) and
    **1.27x at 100x** where the edge build is the data term — the
    floor-valley shape, with `graph_connected_components` showing the
    inverse at both points (DuckDB's recursive CTE interrupted at
    300-900 s vs Spark 7.8/19.1 s). Numbers: SCALE.md round 15.

    vs reference: no analogue (no graph surface in `dashboard_nfp.py`).
    """
    from ..functions.numerics import _nearest_long_away, l1_quantize

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_partkey").alias("part"),
    )
    # edge build: explicit SHUFFLE_HASH with the 2-column orders
    # projection as build side — no 18M + 4.5M row sorts (the default
    # SMJ measured 3.5 s vs 2.4 s at 30x; same pattern as q8's gated
    # degrade, and per-partition builds stay bounded because the build
    # side is the reduced key projection)
    edges0 = (
        li.join(orders.hint("SHUFFLE_HASH"), "o_orderkey")
        .select(F.col("o_custkey").alias("cust"), "part")
        .distinct()
    )
    # round 16 (VERDICT r15 item 4 — cut the serial half-step stage
    # count): TWO checkpointed copies of the edge list, one
    # hash-partitioned by part and one by cust. localCheckpoint captures
    # outputPartitioning in the LogicalRDD, so each half-step's
    # broadcast-join + groupBy runs as a SINGLE stage with NO exchange
    # (the groupBy key matches the at-rest partitioning) — 8 exchanges
    # and 8 shuffle stages gone per run for two extra edge-list
    # repartitions paid once. The cust copy derives from the part copy
    # (already materialized), so the 18M-row edge build still runs once.
    edges_by_part = edges0.repartition(F.col("part")).localCheckpoint(
        eager=True
    )
    edges_by_cust = edges_by_part.repartition(F.col("cust")).localCheckpoint(
        eager=True
    )
    custs = edges_by_cust.select("cust").distinct()
    nc = custs.agg(F.count(F.lit(1)).alias("n"))
    h = custs.crossJoin(F.broadcast(nc)).select(
        "cust",
        _nearest_long_away(
            F.lit(HITS_SCALE) / F.col("n").cast("double")
        ).alias("q"),
    )

    from ..io import broadcastable

    # node-sized score frames broadcast into the edge probe under the
    # size gate (zero edge shuffles per half-step); past the gate the
    # join degrades to the node-keyed shuffle — O(|E|) exchange per
    # half-step, the `graph_pagerank_tokens` posture
    small = broadcastable(sf_dir, "orders")

    def side(df):
        return F.broadcast(df) if small else df

    # pick the edge copy whose at-rest partitioning matches each
    # half-step's AGGREGATE key when the score side broadcasts (the
    # broadcast join preserves the streamed side's partitioning, so the
    # groupBy needs no exchange); in the degraded shuffle-join path the
    # JOIN key is the binding constraint instead — use the copy
    # partitioned by the join key so only the node-sized score frame
    # shuffles (the `graph_pagerank_tokens` posture)
    e_for_a = edges_by_part if small else edges_by_cust
    e_for_h = edges_by_cust if small else edges_by_part

    a = None
    for _i in range(HITS_ITERS):
        # l1_quantize checkpoints the RAW half-step frame, not the
        # normalized one. A window-normalized single-chain form with one
        # final checkpoint was tried in round 15 and measured WORSE
        # (7.2 s vs 6.4 s at 30x): each mid-plan broadcast build
        # re-executes the chain above it, while eager checkpoints pin
        # each half-step.
        a = l1_quantize(
            e_for_a.join(side(h), "cust")
            .groupBy("part")
            .agg(F.sum(d38("q")).alias("raw")),
            "part",
            HITS_SCALE,
        )
        h = l1_quantize(
            e_for_h.join(side(a), "part")
            .groupBy("cust")
            .agg(F.sum(d38("q")).alias("raw")),
            "cust",
            HITS_SCALE,
        )
    auth = top_k(a, (), HITS_TOP_K, F.col("q").desc(), "part", name="pos").select(
        F.lit("authority").alias("side"),
        F.col("part").cast("long").alias("node_id"),
        "q",
        "pos",
    )
    hubs = top_k(h, (), HITS_TOP_K, F.col("q").desc(), "cust", name="pos").select(
        F.lit("hub").alias("side"),
        F.col("cust").cast("long").alias("node_id"),
        "q",
        "pos",
    )
    return (
        auth.unionByName(hubs)
        .select(
            "side",
            "node_id",
            dround(F.col("q").cast("double") / F.lit(HITS_SCALE), 6).alias(
                "score"
            ),
            F.col("pos").cast("int").alias("pos"),
        )
        .orderBy("side", "pos")
    )


QUERIES["graph_hits_scores"] = graph_hits_scores


def _hits_oracle_sql() -> str:
    s = f"{HITS_SCALE:.1f}"
    sql = (
        "WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS cust, "
        "l.l_partkey AS part FROM orders o JOIN lineitem l "
        "ON l.l_orderkey = o.o_orderkey), "
        "nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM "
        "(SELECT DISTINCT cust FROM e)), "
        "h0 AS MATERIALIZED (SELECT cust, "
        f"CAST(ROUND({s} / CAST(n AS DOUBLE)) AS BIGINT) AS q "
        "FROM (SELECT DISTINCT cust FROM e), nc)"
    )
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        sql += (
            f", ar{i} AS MATERIALIZED (SELECT part, "
            f"SUM(CAST(q AS HUGEINT)) AS raw FROM e "
            f"JOIN {prev_h} USING (cust) GROUP BY 1), "
            f"at{i} AS (SELECT SUM(raw) AS t FROM ar{i}), "
            f"a{i} AS MATERIALIZED (SELECT part, "
            "CAST(ROUND(CAST(raw AS DOUBLE) / CAST(t AS DOUBLE) "
            f"* {s}) AS BIGINT) AS q FROM ar{i}, at{i}), "
            f"hr{i} AS MATERIALIZED (SELECT cust, "
            f"SUM(CAST(q AS HUGEINT)) AS raw FROM e "
            f"JOIN a{i} USING (part) GROUP BY 1), "
            f"ht{i} AS (SELECT SUM(raw) AS t FROM hr{i}), "
            f"h{i} AS MATERIALIZED (SELECT cust, "
            "CAST(ROUND(CAST(raw AS DOUBLE) / CAST(t AS DOUBLE) "
            f"* {s}) AS BIGINT) AS q FROM hr{i}, ht{i})"
        )
        prev_h = f"h{i}"
    last = HITS_ITERS
    sql += (
        f", auth AS (SELECT 'authority' AS side, "
        f"CAST(part AS BIGINT) AS node_id, q, "
        f"ROW_NUMBER() OVER (ORDER BY q DESC, part) AS pos FROM a{last}), "
        f"hub AS (SELECT 'hub' AS side, CAST(cust AS BIGINT) AS node_id, "
        f"q, ROW_NUMBER() OVER (ORDER BY q DESC, cust) AS pos "
        f"FROM h{last}) "
        "SELECT side, node_id, "
        f"ROUND(CAST(q AS DOUBLE) / {s}, 6) AS score, "
        "CAST(pos AS INT) AS pos FROM "
        f"(SELECT * FROM auth WHERE pos <= {HITS_TOP_K} "
        f"UNION ALL SELECT * FROM hub WHERE pos <= {HITS_TOP_K}) "
        "ORDER BY side, pos"
    )
    return sql


ORACLE["graph_hits_scores"] = _hits_oracle_sql()


# --- Personalized PageRank from the hub part ---------------------------------

PPR_TOP_K = 50


def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star — **personalized PageRank** (Jeh & Widom WWW 2003;
    the random walk with restart behind "customers also bought"
    relevance): ``PR_ITERS`` unrolled power iterations on the part
    CO-PURCHASE graph where ALL teleport mass returns to one seed —
    the highest-degree part (deterministic tie-break) — so the scores
    rank every part by proximity to the seed's neighborhood rather
    than by global centrality (`graph_pagerank_tokens` is the global
    twin; `graph_hits_scores` the mutual-reinforcement one).

    Determinism: the `graph_pagerank_tokens` device — per-target
    contribution sums quantize to scaled int64 (round(pr/outdeg·1e9)),
    so every iteration is exact integer aggregation and the final
    ranks are bit-identical across engines; the seed argmax runs over
    exact integer degrees with the part key as tiebreak.

    Scale: the co-purchase edge list builds once (the shared
    posting-list explode `_copurchase_pairs`, never cross-join
    shaped) and is localCheckpoint-ed; each iteration is
    one node-keyed join + one map-side-combinable sum — O(|E|)
    shuffle; node frames are dim-sized.

    vs reference: no analogue (no graph surface in `dashboard_nfp.py`).
    """
    # posting-list pair generation — one lineitem scan, one exchange
    # (round 15; was a two-scan self-join, see _copurchase_pairs)
    pairs = _copurchase_pairs(spark, sf_dir)
    und = symmetrize(pairs, "pa", "pb", "src", "dst").localCheckpoint(
        eager=True
    )
    # deg is re-joined by EVERY power iteration (and feeds the seed
    # argmax) — checkpoint it once (round 15, rule 5)
    deg = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    seed = top_k(deg, (), 1, F.col("outdeg").desc(), "src").select(
        F.col("src").alias("part"), F.lit(1).alias("is_seed")
    )
    nodes = (
        und.select(F.col("src").alias("part"))
        .distinct()
        .join(F.broadcast(seed), "part", "left")
        .select(
            "part", F.coalesce(F.col("is_seed"), F.lit(0)).alias("is_seed")
        )
        .localCheckpoint(eager=True)
    )
    pr = nodes.select(
        "part",
        F.when(F.col("is_seed") == 1, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("pr"),
    )
    teleport = F.when(
        F.col("is_seed") == 1, F.lit(1.0 - PR_DAMPING)
    ).otherwise(F.lit(0.0))
    for _ in range(PR_ITERS):
        pr = _pagerank_step(und, deg, nodes, pr, "part", teleport)
    return top_k(
        pr.select("part", dround(F.col("pr"), 6).alias("ppr")),
        (),
        PPR_TOP_K,
        F.col("ppr").desc(),
        "part",
        name="pos",
    ).orderBy("pos")


QUERIES["graph_pagerank_personalized"] = graph_pagerank_personalized


def _ppr_oracle_sql() -> str:
    d = PR_DAMPING
    parts = [
        "pr_e AS MATERIALIZED (SELECT a.l_partkey AS pa, "
        "b.l_partkey AS pb FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        f"GROUP BY 1, 2 HAVING COUNT(*) >= {CC_MIN_SUPPORT})",
        "und AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pr_e "
        "UNION ALL SELECT pb, pa FROM pr_e)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM und "
        "GROUP BY 1)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS part FROM und)",
        "seed AS (SELECT src AS part FROM deg "
        "ORDER BY outdeg DESC, src LIMIT 1)",
        "p0 AS (SELECT nodes.part, "
        "CASE WHEN nodes.part = seed.part THEN 1.0 ELSE 0.0 END AS pr "
        "FROM nodes, seed)",
    ]
    prev = "p0"
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT und.dst AS part, "
            "CAST(SUM(CAST(ROUND(p.pr / deg.outdeg * "
            f"{PR_SCALE}, 0) AS BIGINT)) AS DOUBLE) / {PR_SCALE} "
            f"AS in_mass FROM und JOIN {prev} p ON p.part = und.src "
            "JOIN deg ON deg.src = und.src GROUP BY 1)"
        )
        parts.append(
            # the teleport literal is the PYTHON-computed 1.0-d repr so
            # both engines hold the identical double (DuckDB evaluates
            # bare decimal literals in DECIMAL space — round-10 verdict)
            f"p{i} AS (SELECT nodes.part, "
            f"(CASE WHEN nodes.part = seed.part THEN {1.0 - d!r} "
            f"ELSE 0.0 END) + {d} * COALESCE(m{i}.in_mass, 0.0) AS pr "
            f"FROM nodes LEFT JOIN m{i} ON m{i}.part = nodes.part, seed)"
        )
        prev = f"p{i}"
    return (
        "WITH " + ", ".join(parts)
        + " SELECT part, ROUND(pr, 6) AS ppr, "
        "CAST(ROW_NUMBER() OVER (ORDER BY ROUND(pr, 6) DESC, part) "
        f"AS INT) AS pos FROM {prev} "
        f"QUALIFY pos <= {PPR_TOP_K} ORDER BY pos"
    )


ORACLE["graph_pagerank_personalized"] = _ppr_oracle_sql()
