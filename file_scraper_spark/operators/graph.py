"""Graph analytics over warehouse tables (PageRank-family).

A training-data pipeline ranks crawl hosts by link-graph centrality
(Common Crawl's harmonic-centrality lists, OPIC crawl ordering) to
prioritize fetching and to weight quality sampling.  The fixtures
carry no web graph, so the operator runs on the bipartite
part<->supplier graph induced by ``lineitem`` — the structure
(iterative sparse matvec over an edge list) is identical, only the
node vocabulary differs.

Why integer arithmetic: PageRank is a fixpoint over doubles, and
float summation order differs between Spark's partial aggregation
and DuckDB's single-node fold, so a double-typed rank would never
value-hash equal.  Every quantity here is a BIGINT in fixed-point
``SCALE`` units with ``div``/``//`` floor division (bit-identical in
both engines), so the K-round unrolled oracle replays the EXACT
computation — same rule as the minhash / IVF / LSH oracles
(operators/dedup.py, operators/similarity.py).

Connected components (the other iterative graph op this engine
needs) lives in operators/dedup.py::_propagate_clusters as
alternating star contraction; this module deliberately reuses its
loop idioms (localCheckpoint per round, fixed round cap that raises
rather than returning a wrong partial state is not needed here —
PageRank's round count IS the definition, not a convergence bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_scraper_spark.registry import query
from file_scraper_spark.tables import load

#: fixed-point scale for rank mass. Total mass ~= SCALE; per-node
#: ranks and damped sums stay < 64 * SCALE << 2^63 (no overflow) and
#: the 17/20 damping multiply stays exact in BIGINT.
PR_SCALE = 10**12

#: damping d = 0.85 = PR_D_NUM / PR_D_DEN, applied as
#: ``(PR_D_NUM * x) div PR_D_DEN`` so both engines floor identically.
PR_D_NUM = 17
PR_D_DEN = 20

#: fixed iteration count. PageRank error contracts by d per round;
#: 4 rounds is enough to separate hubs from the tail (the operator's
#: job here) while keeping the unrolled DuckDB oracle readable. The
#: round count is part of the query's definition (both engines run
#: exactly K rounds), not a convergence heuristic.
PR_ROUNDS = 4

PR_TOPK = 20


def _pagerank_oracle() -> str:
    """K-round unrolled DuckDB twin of the Spark loop below."""
    it_prev = "r0"
    steps = []
    for k in range(1, PR_ROUNDS + 1):
        steps.append(
            f"""it{k} AS (
      SELECT e.dst AS node,
             (SELECT t FROM tele)
               + ({PR_D_NUM} * SUM(r.rank // d.deg)) // {PR_D_DEN}
               AS rank
      FROM {it_prev} r
      JOIN edges e ON e.src = r.node
      JOIN deg d ON d.src = r.node
      GROUP BY e.dst
    )"""
        )
        it_prev = f"it{k}"
    joined = ",\n    ".join(steps)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
      FROM lineitem
    ), edges AS (
      SELECT p AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, p AS dst FROM pairs
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), n AS (
      SELECT COUNT(*) AS n FROM deg
    ), tele AS (
      SELECT (({PR_SCALE} * ({PR_D_DEN} - {PR_D_NUM})) // {PR_D_DEN})
               // (SELECT n FROM n) AS t
    ), r0 AS (
      SELECT src AS node, {PR_SCALE} // (SELECT n FROM n) AS rank
      FROM deg
    ),
    {joined}
    SELECT node AS node_id,
           CAST(node % 2 AS BIGINT) AS is_supplier,
           CAST(rank AS BIGINT) AS rank_q
    FROM {it_prev}
    ORDER BY rank_q DESC, node_id
    LIMIT {PR_TOPK}
    """


@query("graph_pagerank", oracle=_pagerank_oracle(), tags=("graph",))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, K=4 rounds, fixed-point BIGINT) over
    the undirected part<->supplier graph from ``lineitem``; returns
    the top-20 nodes.  The crawl-prioritization building block: rank
    hosts by centrality, then feed the scores into quality-weighted
    sampling (sample_quality_weighted) or fetch ordering.

    Node ids are namespaced (part -> 2*key, supplier -> 2*key+1) so
    one BIGINT column carries the bipartite union.  Undirected edges
    mean every node has out-degree >= 1 — no dangling-mass term.

    Scale shape: the edge list with per-src degree is built ONCE,
    hash-partitioned by ``src``, and cached; each round is (a) one
    equi-join of the rank frame (N rows — node-sized, never
    edge-sized) against the cached edge list on ``src``, then (b) one
    groupBy(dst) whose partial aggregation sums contributions
    map-side before the exchange, so a celebrity node (every part
    linked to one mega-supplier) arrives at the reducer as ~one row
    per map task, not per in-edge.  Per-round shuffle volume is
    therefore O(nodes), not O(edges) — only the initial edge
    partitioning ever moves the edge list.  localCheckpoint per round
    truncates the K-deep lineage (swap for checkpoint() on a real
    cluster, where a lost block would otherwise fail the job instead
    of recomputing — same trade as dedup._propagate_clusters).  At a web
    scale graph, AQE handles rank-side skew; the edge cache is the
    one resident structure and it is O(edges/executors) per node.

    The rank column stays in integer SCALE units end-to-end (see
    module docstring); ``rank_q / 1e12`` is the probability."""
    li = load(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ).distinct()
    edges = pairs.select(
        F.col("p").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # one resident structure: edge list + src degree, partitioned by
    # the join key so every round's join reuses the layout.
    edges_deg = (
        edges.join(deg, "src").repartition("src").localCheckpoint()
    )

    # node count is a scalar plan parameter (like the similarity
    # family's codebook collects) — one control-plane count, not a
    # driver-side data loop.
    n_nodes = deg.count()
    tele = (PR_SCALE * (PR_D_DEN - PR_D_NUM) // PR_D_DEN) // n_nodes
    r0 = PR_SCALE // n_nodes

    ranks = edges_deg.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(r0).cast("long").alias("rank")
    )
    for _ in range(PR_ROUNDS):
        contribs = ranks.join(
            edges_deg, ranks["node"] == edges_deg["src"]
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank div deg").alias("c"),
        )
        ranks = (
            contribs.groupBy("node")
            .agg(
                (
                    F.lit(tele).cast("long")
                    + F.expr(f"({PR_D_NUM} * sum(c)) div {PR_D_DEN}")
                ).alias("rank")
            )
            .localCheckpoint(eager=False)
        )
    return (
        ranks.select(
            F.col("node").alias("node_id"),
            (F.col("node") % 2).cast("long").alias("is_supplier"),
            F.col("rank").cast("long").alias("rank_q"),
        )
        .orderBy(F.desc("rank_q"), F.asc("node_id"))
        .limit(PR_TOPK)
    )


TRI_TOPK = 20


def _triangle_oracle() -> str:
    """DuckDB twin of the oriented wedge-join below."""
    return f"""
    WITH pr AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node
    ), oe AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS s,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS t
      FROM e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ), tri AS (
      SELECT a.s AS x, a.t AS y, b.t AS z
      FROM oe a
      JOIN oe b ON b.s = a.t
      JOIN oe c ON c.s = a.s AND c.t = b.t
    ), corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y AS node FROM tri
      UNION ALL SELECT z AS node FROM tri
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS total_triangles
    FROM corners
    GROUP BY node
    ORDER BY tri_cnt DESC, node
    LIMIT {TRI_TOPK}
    """


@query("graph_triangle_count", oracle=_triangle_oracle(), tags=("graph",))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the part co-purchase graph (two
    parts adjacent iff some order contains both) — the clustering-
    coefficient building block a crawl/link analysis uses to separate
    genuine communities from link farms (spam hosts sit in sparse,
    triangle-poor neighborhoods; real topics are triangle-dense).
    Returns the top-20 nodes by triangle participation plus
    the global triangle total on every row.

    Algorithm: degree-ordered orientation, the canonical distributed
    formulation (Suri & Vassilvitskii's MapReduce scheme; also
    Cohen's and GraphX's). Orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one — a DAG in which
    each triangle {x,y,z} has exactly ONE topological layout x->y,
    x->z, y->z — then one wedge self-join (out-edges joined on their
    source's successor) verified against the oriented edge list
    counts each triangle exactly once, no /6 dedup factor, no
    double-counted wedges.

    Why it scales: orientation bounds effective out-degree by
    O(sqrt(m)) regardless of raw skew (a celebrity node of degree D
    contributes wedges only where it is the LOW endpoint), so the
    wedge join materializes O(m^1.5) rows worst-case instead of the
    naive O(sum deg^2) — the difference between feasible and not on a
    power-law web graph. All three joins are shuffle equi-joins on
    node keys (never broadcast: the edge list is data-sized); the
    per-order pair expansion is bounded by TPC-H's <=7 lineitems per
    order (on a real basket graph you'd cap or sample mega-baskets
    first — same lever as dedup's hot-shingle cap). The corner
    explode + groupBy has map-side combine; top-20 cut is a
    TakeOrderedAndProject; the global total rides in as a single-row
    broadcast crossJoin."""
    li = load(spark, sf_dir, "lineitem")
    # Edge construction stays the postings SELF-JOIN on the order key:
    # the link_predict-style collect_set fold + in-row pair expansion
    # was A/B-measured interleaved same-JVM at 100x and LOST here
    # (min-of-2: 12.0s join form vs 26.1s set form) — with no weights
    # to carry and a distinct right after, the ObjectHashAggregate set
    # build costs more than the AQE-planned self-join it replaces.
    # (graph_link_predict keeps the set form because there it removes
    # TWO extra data-sized shuffles: 109.4s -> 53.8s. Same primitive,
    # opposite verdicts — measured, not assumed.)
    pr = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pr.alias("a"), pr.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    wedges = (
        oe.alias("a")
        .join(oe.alias("b"), F.col("b.s") == F.col("a.t"))
        .select(
            F.col("a.s").alias("x"),
            F.col("a.t").alias("y"),
            F.col("b.t").alias("z"),
        )
    )
    # tri feeds two consumers (global total + corner counts):
    # localCheckpoint so the three-join chain runs once, not twice.
    tri = (
        wedges.join(
            oe.alias("c"),
            (F.col("c.s") == F.col("x")) & (F.col("c.t") == F.col("z")),
        )
        .select("x", "y", "z")
        .localCheckpoint(eager=False)
    )
    total = tri.agg(F.count(F.lit(1)).cast("long").alias("total_triangles"))
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri_cnt"))
        .crossJoin(F.broadcast(total))
        .orderBy(F.desc("tri_cnt"), F.asc("node"))
        .limit(TRI_TOPK)
    )


#: HITS fixed-point scale and round count (definitional, like
#: PR_ROUNDS); L1 normalization each half-step keeps every score in
#: [0, HITS_SCALE] so the HUGEINT/DECIMAL(38,0) multiply never nears
#: overflow even at web-scale node counts.
HITS_SCALE = 10**6
HITS_ROUNDS = 2
HITS_TOPK = 20


def _hits_oracle() -> str:
    """K-round unrolled DuckDB twin of the Spark loop below."""
    steps = []
    h_prev = "h0"
    a_prev = None
    for k in range(1, HITS_ROUNDS + 1):
        steps.append(
            f"""a{k}r AS (
      SELECT e.s, SUM(h.h) AS ar FROM e JOIN {h_prev} h ON h.p = e.p
      GROUP BY e.s
    ), a{k}t AS (SELECT SUM(ar) AS t FROM a{k}r),
    a{k} AS (
      SELECT s, CAST((ar::HUGEINT * {HITS_SCALE})
                       // (SELECT t FROM a{k}t) AS BIGINT) AS a
      FROM a{k}r
    ), h{k}r AS (
      SELECT e.p, SUM(a.a) AS hr FROM e JOIN a{k} a ON a.s = e.s
      GROUP BY e.p
    ), h{k}t AS (SELECT SUM(hr) AS t FROM h{k}r),
    h{k} AS (
      SELECT p, CAST((hr::HUGEINT * {HITS_SCALE})
                       // (SELECT t FROM h{k}t) AS BIGINT) AS h
      FROM h{k}r
    )"""
        )
        h_prev, a_prev = f"h{k}", f"a{k}"
    joined = ",\n    ".join(steps)
    return f"""
    WITH e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), h0 AS (
      SELECT DISTINCT p, CAST({HITS_SCALE} AS BIGINT) AS h FROM e
    ),
    {joined}
    SELECT * FROM (
      SELECT 'hub' AS kind, p AS node_id, h AS score_q
      FROM {h_prev} ORDER BY h DESC, p LIMIT {HITS_TOPK}
    )
    UNION ALL
    SELECT * FROM (
      SELECT 'auth' AS kind, s AS node_id, a AS score_q
      FROM {a_prev} ORDER BY a DESC, s LIMIT {HITS_TOPK}
    )
    """


@query("graph_hits", oracle=_hits_oracle(), tags=("graph",))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over the directed
    part->supplier purchase graph, K=2 full rounds, fixed-point
    BIGINT with L1 normalization each half-step; returns the top-20
    hubs and top-20 authorities. The OTHER classic link-centrality:
    where PageRank answers "globally endorsed" (crawl priority), HITS
    separates CURATORS (hubs: parts sourced from many strong
    suppliers / pages linking to many strong sources) from SOURCES
    (authorities) — the split a seed-list builder for focused
    crawling or citation-mining actually wants.

    Determinism: each half-step divides by the running L1 total with
    floor division — score = (raw * 1e6) div sum(raw) — computed in
    DECIMAL(38,0) (Spark) vs HUGEINT (DuckDB), bit-identical on
    positive operands (same parity rule as text_collocations_pmi);
    normalized scores live in [0, 1e6] so magnitudes never grow with
    graph size, unlike an unnormalized power iteration that would
    overflow at web scale. Round count is definitional (both engines
    run exactly K), like PR_ROUNDS.

    Scale shape: same as graph_pagerank — the distinct edge list is
    the one resident structure (localCheckpoint; checkpoint() on a
    real cluster), each half-step is one node-frame equi-join against
    it plus a groupBy with map-side combine (shuffle O(nodes), not
    O(edges)), and each L1 total is a single-row broadcast crossJoin
    (a control-plane scalar, never a collect). Top-k cuts are
    TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    edges = (
        li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _l1_normalize(raw: DataFrame, key: str, rawcol: str, out: str) -> DataFrame:
        tot = raw.agg(F.sum(rawcol).alias("t"))
        return raw.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr(
                f"CAST((CAST({rawcol} AS DECIMAL(38,0)) * {HITS_SCALE})"
                f" DIV CAST(t AS DECIMAL(38,0)) AS BIGINT)"
            ).alias(out),
        )

    h = edges.select("p").distinct().select(
        "p", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    a = None
    for _ in range(HITS_ROUNDS):
        a_raw = (
            edges.join(h, "p")
            .groupBy("s")
            .agg(F.sum("h").alias("ar"))
        )
        a = _l1_normalize(a_raw, "s", "ar", "a").localCheckpoint(eager=False)
        h_raw = (
            edges.join(a, "s")
            .groupBy("p")
            .agg(F.sum("a").alias("hr"))
        )
        h = _l1_normalize(h_raw, "p", "hr", "h").localCheckpoint(eager=False)
    hubs = (
        h.orderBy(F.desc("h"), F.asc("p"))
        .limit(HITS_TOPK)
        .select(
            F.lit("hub").alias("kind"),
            F.col("p").alias("node_id"),
            F.col("h").alias("score_q"),
        )
    )
    auths = (
        a.orderBy(F.desc("a"), F.asc("s"))
        .limit(HITS_TOPK)
        .select(
            F.lit("auth").alias("kind"),
            F.col("s").alias("node_id"),
            F.col("a").alias("score_q"),
        )
    )
    return hubs.unionAll(auths)


#: k-core peeling: drop nodes with degree < KCORE_K, repeat
#: KCORE_ROUNDS times (fixed, definitional — convergence detection
#: would make the oracle data-dependent).
KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled DuckDB twin of the peeling loop below."""
    steps = []
    rows = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        steps.append(
            f"""d{r} AS (
      SELECT src, COUNT(*) AS deg FROM {prev} GROUP BY src
    ), s{r} AS (
      SELECT src FROM d{r} WHERE deg >= {KCORE_K}
    ), e{r} AS (
      SELECT e.src, e.dst FROM {prev} e
      JOIN s{r} a ON a.src = e.src
      JOIN s{r} b ON b.src = e.dst
    )"""
        )
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM s{r}) AS n_nodes,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) // 2 AS n_edges"
        )
        prev = f"e{r}"
    joined = ",\n    ".join(steps)
    unioned = "\n    UNION ALL ".join(rows)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
      FROM lineitem
    ), e0 AS (
      SELECT p AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, p AS dst FROM pairs
    ),
    {joined}
    {unioned}
    """


@query("graph_kcore_peel", oracle=_kcore_oracle(), tags=("graph",))
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling profile (k=3, 3 fixed rounds) over the
    undirected part<->supplier graph: each round removes every node
    of degree < k and the edges touching it, and the operator reports
    the surviving node/edge counts per round — the density
    monitoring a spam/community analysis runs (link farms and
    low-quality hosts fall out of low cores; the dense core that
    SURVIVES peeling is where coordinated structures live, which is
    why k-core is the standard pre-filter before expensive community
    detection). The fixed round count is definitional, like
    PR_ROUNDS: both engines peel exactly R times, so the unrolled
    oracle replays bit-exactly; a production decomposition loops to
    fixpoint with the same per-round plan (the profile converging —
    n_nodes flat between rounds — IS the stopping signal this report
    surfaces).

    Scale shape: per round, one groupBy(src) degree count with
    map-side combine (shuffle O(nodes)) and two semi-shaped
    equi-joins filtering the edge list against the survivor set —
    edges stay partitioned by src across rounds, survivors are
    node-sized. Per-round stats are single-row aggregates unioned
    in-plan (no driver collects). localCheckpoint truncates the
    R-deep lineage like the other iterative operators; the peeled
    edge list SHRINKS monotonically, so later rounds cost less, not
    more."""
    li = load(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ).distinct()
    edges = (
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
        .unionAll(
            pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    stats = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        surv = deg.filter(F.col("deg") >= KCORE_K).select("src")
        edges = (
            edges.join(surv.withColumnRenamed("src", "a"),
                       F.col("src") == F.col("a"))
            .drop("a")
            .join(surv.withColumnRenamed("src", "b"),
                  F.col("dst") == F.col("b"))
            .drop("b")
            .localCheckpoint(eager=False)
        )
        n_nodes = surv.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        n_edges = edges.agg(
            F.expr("CAST(count(1) AS BIGINT) div 2").alias("n_edges")
        )
        stats.append(
            n_nodes.crossJoin(F.broadcast(n_edges)).select(
                F.lit(r).cast("long").alias("round"),
                "n_nodes",
                "n_edges",
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


#: link-prediction scale and cut: contribution of a shared neighbor
#: s is RA_SCALE // deg(s) (the Zhou-Lu-Zhang resource-allocation
#: index — Adamic-Adar's 1/log replaced by 1/deg, which keeps the
#: whole score in exact integers).
RA_SCALE = 10**6
RA_TOPK = 30


@query(
    "graph_link_predict",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), deg AS (
      SELECT o, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY o
    ), pairs AS (
      SELECT a.p AS u, b.p AS v, {RA_SCALE} // d.d AS c
      FROM e a
      JOIN e b ON b.o = a.o AND a.p < b.p
      JOIN deg d ON d.o = a.o
    )
    SELECT u, v,
           CAST(SUM(c) AS BIGINT) AS ra_q,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM pairs
    GROUP BY u, v
    ORDER BY ra_q DESC, u, v
    LIMIT {RA_TOPK}
    """,
    tags=("graph",),
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the purchase graph: score every part
    pair by the resource-allocation index — sum over shared ORDERS of
    1e6 div |order| — and return the top-30 candidate links with
    their common-neighbor counts. The related-item / related-domain
    primitive (two items sharing many SMALL baskets are far more
    related than two sharing one mega-basket): RA is Adamic-Adar with
    1/deg in place of 1/log deg, chosen because it stays in exact
    integer arithmetic (floor division both engines) — and in the
    link-prediction literature RA consistently matches or beats AA
    anyway (Zhou, Lu, Zhang 2009, public result).

    Scale shape (FOURTH cut — the first three are recorded A/Bs):
    pair candidates come only from co-membership buckets, and the
    bucket is the ORDER (<= 7 lineitems in TPC-H; bounded basket size
    in any retail feed), so pair expansion is O(edges * basket_size),
    linear in corpus size. Cut 1 bucketed on the shared SUPPLIER:
    supplier degree GROWS with the corpus -> deg^2 pairs, 22.8s at
    sf0.01 alone, quadratic beyond. Cut 2 kept order buckets but
    generated pairs via postings self-join + degree join: four
    data-sized shuffles, 109.4s cold at 100x. Cut 3 folded each order
    to ONE sorted part-set row and expanded the pairs IN-ROW with
    array HOFs — 0.49x of cut 2, but Catalyst evaluates HOF lambdas
    INTERPRETED, so every pair paid nested closure calls plus a
    struct allocation (the doc_fingerprint finding applied to pair
    expansion). This cut keeps cut 3's plan shape — the same TWO
    shuffles (set fold + final groupBy(u, v) with map-side combine),
    zero joins — and swaps the HOF expansion for a per-basket numpy
    kernel: precomputed triu index pairs per basket size k gather the
    C(k,2) (u, v) rows in two vectorized takes (u < v falls out of
    sort_array + triu order) with c = RA_SCALE div k attached.
    Same-JVM interleaved A/B at 100x: 49.3s vs 13.6s = 0.28x, kernel
    faster in both pairs. On a feed with unbounded baskets you cap or
    sample mega-baskets first (the RA weight already makes what the
    cap drops negligible); top-30 is a TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    sets = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
    )

    def expand(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        # triu index pairs per basket size: baskets are tiny (<= 7 in
        # TPC-H), so the full table is a few hundred ints
        iu = {k: np.triu_indices(k, 1) for k in range(2, 64)}
        for pdf in batches:
            if not len(pdf):
                continue
            us: list = []
            vs: list = []
            cs: list = []
            for ps in pdf["ps"]:
                k = len(ps)
                if k < 2:
                    continue
                arr = np.asarray(ps, dtype=np.int64)
                a, b = iu[k] if k in iu else np.triu_indices(k, 1)
                us.append(arr[a])
                vs.append(arr[b])
                cs.append(np.full(len(a), RA_SCALE // k, dtype=np.int64))
            if us:
                yield pd.DataFrame(
                    {
                        "u": np.concatenate(us),
                        "v": np.concatenate(vs),
                        "c": np.concatenate(cs),
                    }
                )

    pairs = sets.mapInPandas(expand, "u long, v long, c long")
    return (
        pairs.groupBy("u", "v")
        .agg(
            F.sum("c").cast("long").alias("ra_q"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
        .orderBy(F.desc("ra_q"), F.asc("u"), F.asc("v"))
        .limit(RA_TOPK)
    )
