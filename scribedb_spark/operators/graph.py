"""Graph operators over event-derived graphs (engine-native breadth;
the batch twins of the iterative patterns in operators/dedup.py's
connected components).

``graph_pagerank`` demonstrates the cross-engine-exact formulation of
an ITERATIVE double-typed algorithm: classic PageRank accumulates
floating-point rank mass whose partial-sum order differs between
engines (and between Spark runs). Here every rank is carried in
integer MICRO-units (BIGINT) and each step uses only integer
multiply / integer division / integer sum — all order-independent and
floor-exact in both engines — so three unrolled iterations hash-match
DuckDB bit-for-bit with no rounding tolerance. The same trick scales:
production PageRank-at-100 TB is this plan with the node-rank join
checkpointed per iteration (localCheckpoint, like dedup_components'
large-star/small-star loop) instead of unrolled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scribedb_spark.queries import corpus_deps, register, served
from scribedb_spark.sources import table

#: damping in percent and the per-node base mass in micro-units:
#: r'(v) = BASE + (DAMP * sum_in_contrib(v)) div 100
DAMP = 85
BASE = 150_000  # (100 - DAMP)% of 1.0 in micro-units
R0 = 1_000_000  # initial rank 1.0 in micro-units
N_ITER = 3


def transition_graph(spark, sf_dir):
    """Build the weighted event-type transition graph: returns
    (edges-with-out-weight [u, v, w, ow], nodes [node]). The raw
    stream collapses here — per-user lead window, then a map-side
    partial-counted (u, v) aggregate — so everything downstream is
    domain-sized."""
    e = table(spark, "events", sf_dir)
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("u"),
        F.lead("event_type").over(w_seq).alias("v"),
    )
    edges = (
        seq.filter(F.col("v").isNotNull())
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # out-weight as a whole-partition window over the aggregated edge
    # list (not a groupBy + self-join, which would compute the raw
    # subtree twice): reuses the (u, v) exchange, one scan total
    eo = edges.withColumn(
        "ow", F.sum("w").over(Window.partitionBy("u")).cast("long")
    )
    nodes = e.select(F.col("event_type").alias("node")).distinct()
    return eo, nodes


@register(
    "graph_pagerank",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS u,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS v
      FROM events),
    edges AS (
      SELECT u, v, COUNT(*) AS w FROM seq WHERE v IS NOT NULL
      GROUP BY 1, 2),
    outw AS (SELECT u, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    r0 AS (SELECT node, CAST({R0} AS BIGINT) AS r FROM nodes),
    c1 AS (
      SELECT e.v AS node, CAST(SUM((r0.r * e.w) // o.ow) AS BIGINT) AS s
      FROM edges e JOIN outw o ON e.u = o.u JOIN r0 ON r0.node = e.u
      GROUP BY 1),
    r1 AS (
      SELECT n.node,
             CAST({BASE} + ({DAMP} * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
    c2 AS (
      SELECT e.v AS node, CAST(SUM((r1.r * e.w) // o.ow) AS BIGINT) AS s
      FROM edges e JOIN outw o ON e.u = o.u JOIN r1 ON r1.node = e.u
      GROUP BY 1),
    r2 AS (
      SELECT n.node,
             CAST({BASE} + ({DAMP} * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
    c3 AS (
      SELECT e.v AS node, CAST(SUM((r2.r * e.w) // o.ow) AS BIGINT) AS s
      FROM edges e JOIN outw o ON e.u = o.u JOIN r2 ON r2.node = e.u
      GROUP BY 1),
    r3 AS (
      SELECT n.node,
             CAST({BASE} + ({DAMP} * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c3 ON n.node = c3.node)
    SELECT node AS event_type, r AS rank_micro FROM r3
    """,
    serve=corpus_deps("events"),
)
def graph_pagerank(spark, sf_dir) -> DataFrame:
    """Weighted PageRank (damping 0.85, {N_ITER} iterations) over the
    event-type transition graph: edge (u, v) weighted by how often an
    event of type u is immediately followed by one of type v in the
    same user's stream. Ranks are integer micro-units end-to-end (see
    module docstring), so the iterative result is bit-exact across
    engines — per-edge contribution is (rank*w) div out_w, per-node
    update BASE + (85*sum) div 100, all positive-integer floor ops.

    Dangling nodes (no outgoing edges) keep contributing nothing —
    their mass is dropped, not redistributed (documented divergence
    from the redistribute-uniformly variant; both engines drop it
    identically).

    Scale: the edge list collapses in the first aggregation (one row
    per distinct (u, v) — bounded by |event_type|^2 here, by the
    observed-transition count in general); each iteration is one
    edges-to-ranks join keyed on the source node plus a destination
    groupBy, exactly the shape a billion-node run partitions on, with
    a checkpoint per iteration instead of this unrolled 3-step plan."""
    eo, nodes = transition_graph(spark, sf_dir)
    # each unrolled iteration reuses the edge and node frames 1:1 —
    # checkpoint them so the raw-event subtree (window + two
    # aggregates) computes ONCE, not once per reuse (same lineage
    # truncation as dedup_components' fixpoint rounds); both frames
    # are domain-sized (|edges| <= |types|^2), so this is cheap
    eo = eo.localCheckpoint()
    nodes = nodes.localCheckpoint()
    ranks = nodes.select("node", F.lit(R0).cast("long").alias("r"))
    for _ in range(N_ITER):
        contrib = (
            eo.join(ranks, eo["u"] == ranks["node"])
            .select("v", F.expr("(r * w) div ow").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["v"], "left"
        ).select(
            "node",
            (
                F.lit(BASE)
                + F.expr(f"({DAMP} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("r"),
        )
    return ranks.select(
        F.col("node").alias("event_type"), F.col("r").alias("rank_micro")
    )


@served("rep_graph", corpus_deps("documents"))
def _rep_graph(spark, sf_dir):
    """(redges, gcount, selfr, rmap) — the CLIQUE-QUOTIENT view of
    the LSH candidate graph, built once per session (r14): exact-text
    duplicate groups are cliques whose members all share one
    neighborhood, so the member graph is exactly the REP graph with
    each node g expanded to a c_g-clique and each rep edge (g, h) to
    a complete bipartite join. Uniform-per-group algorithms (min-label
    propagation, H-index coreness, triangle counting) therefore run
    on the quotient with MULTIPLICITIES and expand once at the end —
    the member pair list (989M rows at the 256x octave) never
    materializes for them, and a megadup template is ONE quotient
    node. Pieces:

    - ``redges``: distinct unordered rep pairs (doc_id1 < doc_id2,
      no self loops) — base-corpus-sized at any duplication factor,
    - ``gcount``: (rep_id, c) member count per group,
    - ``selfr``: reps of groups with c >= 2 (in the member graph even
      without external edges — the group clique),
    - ``rmap``: (doc_id, rep_id) for the final expansion join.
    """
    from scribedb_spark.operators.dedup import _rep_pair_state

    st = _rep_pair_state(spark, sf_dir)
    redges = (
        st["rp"]
        .filter(F.col("r1") != F.col("r2"))
        .select(
            F.least("r1", "r2").alias("doc_id1"),
            F.greatest("r1", "r2").alias("doc_id2"),
        )
        .distinct()
        .localCheckpoint()
    )
    gcount = (
        st["rmap"]
        .groupBy("rep_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    selfr = (
        st["rp"]
        .filter(F.col("r1") == F.col("r2"))
        .select(F.col("r1").alias("rep_id"))
        .localCheckpoint()
    )
    return redges, gcount, selfr, st["rmap"]


def _triangle_oracle() -> str:
    from scribedb_spark.operators.dedup import _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    tri AS (
      SELECT e1.doc_id1 AS a, e1.doc_id2 AS b, e2.doc_id2 AS c
      FROM lsh_cand e1
      JOIN lsh_cand e2 ON e1.doc_id2 = e2.doc_id1
      JOIN lsh_cand e3 ON e3.doc_id1 = e1.doc_id1
                      AND e3.doc_id2 = e2.doc_id2),
    pern AS (
      SELECT unnest([a, b, c]) AS doc_id FROM tri)
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM pern GROUP BY doc_id
    """


def _oriented_triangle_join(edges: DataFrame) -> DataFrame:
    """(a, b, c) triangle rows of an undirected edge list
    ``(doc_id1, doc_id2)`` with ``doc_id1 < doc_id2`` and no
    duplicate rows, via the degree-ordered node-iterator algorithm.

    Each undirected edge is re-oriented from its LOWER-DEGREE
    endpoint (id tie-break), then the wedge join pairs the two
    out-edges of a common anchor ``a`` with ``b`` strictly before
    ``c`` in the (degree, id) total order, and the closing-edge join
    checks ``b -> c``. Orientation by degree bounds the wedge count
    by O(m^1.5) / arboricity (Chiba-Nishizeki) regardless of skew: a
    boilerplate hub with 30% of all edges anchors NO wedges, because
    every incident edge points INTO it. Id-orientation (used before
    round 7) lets exactly that hub anchor O(deg^2) wedges — fine on
    the degree-uniform synthetic graph, quadratic on the skewed
    corpora this operator exists to audit. Triangle counts are
    identical under any acyclic orientation (property-tested, incl. a
    30%-hub fixture).

    Scale: one groupBy for degrees, two degree-attach joins (node-id
    keyed, partial-agg), then three equi-joins carrying two longs +
    one int each. Output is bounded by triangle-participating nodes.
    """
    deg = (
        edges.select(F.col("doc_id1").alias("doc_id"))
        .unionAll(edges.select(F.col("doc_id2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.select(F.col("doc_id").alias("doc_id1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("doc_id").alias("doc_id2"), F.col("deg").alias("deg2"))
    # doc_id1 < doc_id2 already, so the id tie-break keeps doc_id1 first
    low_first = F.col("deg1") < F.col("deg2")
    tie = F.col("deg1") == F.col("deg2")
    keep = low_first | tie
    oe = (
        edges.join(d1, "doc_id1")
        .join(d2, "doc_id2")
        .select(
            F.when(keep, F.col("doc_id1")).otherwise(F.col("doc_id2")).alias("s"),
            F.when(keep, F.col("doc_id2")).otherwise(F.col("doc_id1")).alias("d"),
            F.when(keep, F.col("deg2")).otherwise(F.col("deg1")).alias("d_deg"),
        )
    )
    x = oe.select(
        F.col("s").alias("a"), F.col("d").alias("b"), F.col("d_deg").alias("b_deg")
    )
    y = oe.select(
        F.col("s").alias("a"), F.col("d").alias("c"), F.col("d_deg").alias("c_deg")
    )
    b_before_c = (F.col("b_deg") < F.col("c_deg")) | (
        (F.col("b_deg") == F.col("c_deg")) & (F.col("b") < F.col("c"))
    )
    z = oe.select(F.col("s").alias("b"), F.col("d").alias("c"))
    return x.join(y, "a").where(b_before_c).join(z, ["b", "c"])


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected (doc_id1 <
    doc_id2, deduped) edge list — the degree-ordered enumeration of
    :func:`_oriented_triangle_join` exploded per corner (factored so
    the rep-grain key can instead weight each triangle by group-count
    products). Property-tested against a Python recompute, incl. a
    30%-hub fixture."""
    tri = _oriented_triangle_join(edges)
    pern = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
    )
    return pern.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "graph_triangle_count",
    oracle=_triangle_oracle(),
    serve=corpus_deps("documents"),
)
def graph_triangle_count(spark, sf_dir) -> DataFrame:
    """Per-node triangle counts over the near-dup candidate graph
    (dedup_minhash_lsh edges) — the local-clustering signal that
    separates genuine duplicate CLUSTERS (dense, triangle-rich) from
    chains of borderline pairs (sparse): a curation pass can demand
    triangle support before collapsing a group.

    r14: runs on the CLIQUE-QUOTIENT graph (_rep_graph). A member's
    triangle count is uniform within its exact-text group and
    decomposes exactly over the quotient — for m in group g:

        C(c_g - 1, 2)                     (both corners groupmates)
      + (c_g - 1) * sum_{h~g} c_h         (one groupmate, one neighbor)
      + sum_{h~g} C(c_h, 2)               (both corners in one neighbor)
      + sum_{rep triangles (g,h,k)} c_h*c_k   (corners in two neighbors)

    because groups are cliques and rep adjacency expands to complete
    bipartite joins (every cross pair IS an edge). The degree-ordered
    wedge enumeration (:func:`_oriented_triangle_join`) runs over REP
    edges only — base-corpus-sized at any duplication; the member
    pair list never materializes. The unchanged member-grain DuckDB
    oracle hash-proves the decomposition on every driver run; only
    groups with a positive count expand (matching the member plan's
    triangle-participating output)."""
    redges, gcount, selfr, rmap = _rep_graph(spark, sf_dir)
    tri = _oriented_triangle_join(redges)
    ga = gcount.select(F.col("rep_id").alias("a"), F.col("c").alias("ca"))
    gb = gcount.select(F.col("rep_id").alias("b"), F.col("c").alias("cb"))
    gc3 = gcount.select(F.col("rep_id").alias("c"), F.col("c").alias("cc"))
    t3 = tri.join(ga, "a").join(gb, "b").join(gc3, "c")
    tcontrib = (
        t3.select(F.col("a").alias("g"), (F.col("cb") * F.col("cc")).alias("t"))
        .unionByName(
            t3.select(
                F.col("b").alias("g"), (F.col("ca") * F.col("cc")).alias("t")
            )
        )
        .unionByName(
            t3.select(
                F.col("c").alias("g"), (F.col("ca") * F.col("cb")).alias("t")
            )
        )
        .groupBy("g")
        .agg(F.sum("t").alias("t"))
    )
    und = redges.select(
        F.col("doc_id1").alias("g"), F.col("doc_id2").alias("h")
    ).unionByName(
        redges.select(F.col("doc_id2").alias("g"), F.col("doc_id1").alias("h"))
    )
    sc = (
        und.join(gcount.select(F.col("rep_id").alias("h"), "c"), "h")
        .groupBy("g")
        .agg(
            F.sum("c").alias("s"),
            F.sum(F.expr("(c * (c - 1)) div 2")).alias("p"),
        )
    )
    n = (
        gcount.withColumnRenamed("rep_id", "g")
        .join(tcontrib, "g", "left")
        .join(sc, "g", "left")
        .select(
            "g",
            (
                F.expr("((c - 1) * (c - 2)) div 2")
                + (F.col("c") - 1) * F.coalesce("s", F.lit(0))
                + F.coalesce("p", F.lit(0))
                + F.coalesce("t", F.lit(0))
            )
            .cast("long")
            .alias("n_triangles"),
        )
        .filter(F.col("n_triangles") > 0)
    )
    return rmap.join(
        n.withColumnRenamed("g", "rep_id"), "rep_id"
    ).select("doc_id", "n_triangles")


#: witnesses above this degree are excluded from common-neighbor
#: counting — boilerplate hubs connect to everything, so co-adjacency
#: through them is weak evidence (the Adamic-Adar intuition made a
#: hard cutoff), and excluding them bounds wedge cost by 32*|E|
_CN_MAX_WITNESS_DEG = 32
_CN_MIN_COMMON = 2


def _common_neighbors_oracle() -> str:
    from scribedb_spark.operators.dedup import _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    und AS (
      SELECT doc_id1 AS a, doc_id2 AS b FROM lsh_cand
      UNION ALL SELECT doc_id2, doc_id1 FROM lsh_cand),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY 1),
    wit AS (
      SELECT u.b AS w, u.a
      FROM und u JOIN deg ON deg.node = u.b
      WHERE deg.d <= {_CN_MAX_WITNESS_DEG}),
    cn AS (
      SELECT x.a AS doc_id1, y.a AS doc_id2,
             COUNT(DISTINCT x.w) AS n_common
      FROM wit x JOIN wit y ON x.w = y.w AND x.a < y.a
      GROUP BY 1, 2),
    missed AS (
      SELECT c.doc_id1, c.doc_id2, CAST(c.n_common AS BIGINT) AS n_common
      FROM cn c
      LEFT JOIN lsh_cand e
        ON e.doc_id1 = c.doc_id1 AND e.doc_id2 = c.doc_id2
      WHERE e.doc_id1 IS NULL AND c.n_common >= {_CN_MIN_COMMON})
    SELECT doc_id1, doc_id2, n_common FROM missed
    """


@register("graph_common_neighbors", oracle=_common_neighbors_oracle())
def graph_common_neighbors(spark, sf_dir) -> DataFrame:
    """Missed-duplicate recovery by link prediction: NON-adjacent
    pairs in the near-dup candidate graph sharing >= 2 common
    neighbors — if A~B and B~C passed the LSH bands but A~C did not,
    the shared neighborhood is strong evidence A~C was a band-miss
    worth re-verifying. The second-pass recall knob every
    LSH-bucketed dedup pipeline wants before collapsing clusters.

    Witnesses are DEGREE-CAPPED ({32}): co-adjacency through a
    boilerplate hub connects everything to everything and carries no
    signal (the Adamic-Adar intuition as a hard cutoff) — and the cap
    is also what makes the plan scale-safe: wedge enumeration is
    bounded by cap * |E| instead of sum(deg^2), the same hub hazard
    the degree-ordered triangle orientation dodges, handled here by
    exclusion because counting requires enumerating every witness's
    wedge. Existing edges drop via a key-only anti join.

    Scale: one degree groupBy (map-side partial), the witness filter,
    a self-join on witness id bounded by the cap, a count-distinct
    per pair (bounded by cap), and the anti join carries two longs.
    The edge list is checkpointed, so the LSH stage runs once."""
    from scribedb_spark.operators.dedup import dedup_minhash_lsh

    e = dedup_minhash_lsh(spark, sf_dir).localCheckpoint()
    und = e.select(
        F.col("doc_id1").alias("a"), F.col("doc_id2").alias("b")
    ).unionAll(e.select(F.col("doc_id2").alias("a"), F.col("doc_id1").alias("b")))
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    wit = (
        und.join(deg, und.b == deg.node)
        .filter(F.col("d") <= _CN_MAX_WITNESS_DEG)
        .select(F.col("b").alias("w"), "a")
    )
    x = wit.select(F.col("w"), F.col("a").alias("doc_id1"))
    y = wit.select(F.col("w"), F.col("a").alias("doc_id2"))
    cn = (
        x.join(y, "w")
        .filter(F.col("doc_id1") < F.col("doc_id2"))
        .groupBy("doc_id1", "doc_id2")
        .agg(F.count_distinct("w").alias("n_common"))
    )
    return (
        cn.join(e, ["doc_id1", "doc_id2"], "left_anti")
        .filter(F.col("n_common") >= _CN_MIN_COMMON)
        .select("doc_id1", "doc_id2", F.col("n_common").cast("long").alias("n_common"))
    )


def _cn_receipts_oracle() -> str:
    from scribedb_spark.operators.dedup import _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    cund AS (SELECT doc_id1 AS a, doc_id2 AS b FROM lsh_cand
             UNION ALL SELECT doc_id2, doc_id1 FROM lsh_cand),
    cdeg AS (SELECT a AS node, COUNT(*) AS d FROM cund GROUP BY 1),
    cwit AS (
      SELECT u.b AS w, u.a
      FROM cund u JOIN cdeg ON cdeg.node = u.b
      WHERE cdeg.d <= {_CN_MAX_WITNESS_DEG}),
    ccn AS (
      SELECT x.a AS doc_id1, y.a AS doc_id2,
             COUNT(DISTINCT x.w) AS n_common
      FROM cwit x JOIN cwit y ON x.w = y.w AND x.a < y.a
      GROUP BY 1, 2),
    cmissed AS (
      SELECT c.doc_id1, c.doc_id2, c.n_common
      FROM ccn c
      LEFT JOIN lsh_cand e
        ON e.doc_id1 = c.doc_id1 AND e.doc_id2 = c.doc_id2
      WHERE e.doc_id1 IS NULL AND c.n_common >= {_CN_MIN_COMMON}),
    crh AS (SELECT doc_id, md5(text) AS h, len(text) AS hl
            FROM documents),
    crq AS (SELECT h, hl, MIN(doc_id) AS rep_id FROM crh GROUP BY h, hl),
    crmap AS (SELECT r.doc_id, q.rep_id FROM crh r
              JOIN crq q ON q.h = r.h AND q.hl = r.hl)
    SELECT LEAST(a.rep_id, b.rep_id) AS rep_id1,
           GREATEST(a.rep_id, b.rep_id) AS rep_id2,
           CAST(MIN(m.n_common) AS BIGINT) AS n_common,
           CAST(COUNT(*) AS BIGINT) AS n_member_pairs
    FROM cmissed m
    JOIN crmap a ON a.doc_id = m.doc_id1
    JOIN crmap b ON b.doc_id = m.doc_id2
    GROUP BY 1, 2
    """


@register("graph_common_neighbors_receipts", oracle=_cn_receipts_oracle())
def graph_common_neighbors_receipts(spark, sf_dir) -> DataFrame:
    """graph_common_neighbors' SCALE output shape (the r14 receipt
    discipline, cf. dedup_levenshtein_receipts): one row per
    NON-adjacent pair of exact-text GROUPS sharing >= {2} degree-
    capped common witnesses — (rep_id1, rep_id2, n_common,
    n_member_pairs) — instead of materializing every missed member
    pair. The member key's output IS member pairs, so under N-fold
    duplication it inflates N^2 per group pair; the receipt carries
    the same evidence (which distinct-content pairs the bands missed,
    how many concrete document pairs each verdict covers) at quotient
    size, and a re-verify pass expands only the receipts it acts on.

    Exactness over the quotient: a witness must be adjacent to both
    endpoints, so for m1 in g1, m2 in g2 (g1 != g2, non-adjacent —
    same-group member pairs are clique-adjacent and adjacency is
    signature-pure) the witness set is exactly the members of groups
    k with k~g1 AND k~g2; member degree is uniform per group
    ((c_k - 1) + sum of colliding groups' counts), so the degree cap
    in/excludes whole groups; hence n_common = sum of qualifying
    witness groups' counts — identical for every member pair — and
    the missed-pair count is c_g1 * c_g2. The oracle runs the naive
    MEMBER plan and aggregates to rep grain (MIN over the uniform
    n_common, COUNT(*) member pairs), so the driver hash-check proves
    the uniformity argument itself on every run.

    Scale: everything is quotient-sized — one degree aggregate, a
    cap-bounded wedge self-join over rep edges, a two-column anti
    join, and two count attaches; no member enumeration anywhere."""
    redges, gcount, selfr, rmap = _rep_graph(spark, sf_dir)
    und = redges.select(
        F.col("doc_id1").alias("g"), F.col("doc_id2").alias("k")
    ).unionByName(
        redges.select(F.col("doc_id2").alias("g"), F.col("doc_id1").alias("k"))
    )
    gck = gcount.select(F.col("rep_id").alias("k"), F.col("c").alias("ck"))
    s = und.join(gck, "k").groupBy("g").agg(F.sum("ck").alias("s"))
    degm = (
        gcount.join(s, gcount["rep_id"] == s["g"], "left")
        .select(
            F.col("rep_id").alias("k"),
            F.col("c").alias("ck"),
            (F.col("c") - 1 + F.coalesce("s", F.lit(0))).alias("d"),
        )
        .filter(F.col("d") <= _CN_MAX_WITNESS_DEG)
        .select("k", "ck")
    )
    wed = und.select(F.col("k"), F.col("g")).join(degm, "k")
    x = wed.select("k", F.col("g").alias("g1"), "ck")
    y = wed.select("k", F.col("g").alias("g2"))
    cn = (
        x.join(y, "k")
        .filter(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.sum("ck").cast("long").alias("n_common"))
    )
    missed = (
        cn.select(
            F.col("g1").alias("doc_id1"),
            F.col("g2").alias("doc_id2"),
            "n_common",
        )
        .join(redges, ["doc_id1", "doc_id2"], "left_anti")
        .filter(F.col("n_common") >= _CN_MIN_COMMON)
    )
    c1 = gcount.select(F.col("rep_id").alias("doc_id1"), F.col("c").alias("c1"))
    c2 = gcount.select(F.col("rep_id").alias("doc_id2"), F.col("c").alias("c2"))
    return (
        missed.join(c1, "doc_id1")
        .join(c2, "doc_id2")
        .select(
            F.col("doc_id1").alias("rep_id1"),
            F.col("doc_id2").alias("rep_id2"),
            "n_common",
            (F.col("c1") * F.col("c2")).cast("long").alias("n_member_pairs"),
        )
    )


_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    from scribedb_spark.operators.dedup import _MINHASH_CTES

    rounds = []
    prev = "h0"
    for t in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    n{t} AS (
      SELECT u.a AS v, d.h,
             row_number() OVER (PARTITION BY u.a
                                ORDER BY d.h DESC, u.b) AS rn
      FROM und u JOIN {prev} d ON d.v = u.b),
    h{t} AS (
      SELECT v,
             CAST(COALESCE(MAX(CASE WHEN h >= rn THEN rn END), 0)
               AS BIGINT) AS h
      FROM n{t} GROUP BY v)""")
        prev = f"h{t}"
    return f"""
    WITH {_MINHASH_CTES},
    und AS (SELECT doc_id1 AS a, doc_id2 AS b FROM lsh_cand
            UNION ALL SELECT doc_id2, doc_id1 FROM lsh_cand),
    h0 AS (SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS h
           FROM und GROUP BY 1),{','.join(rounds)}
    SELECT h0.v AS doc_id, h0.h AS degree, {prev}.h AS core_est
    FROM h0 JOIN {prev} ON {prev}.v = h0.v
    """


def h_index_rounds(edges: DataFrame, n_rounds: int) -> DataFrame:
    """(doc_id, degree, core_est) after ``n_rounds`` of the H-index
    coreness iteration over an undirected ``(doc_id1, doc_id2)``
    (doc_id1 < doc_id2, deduped) edge list — factored out so the
    property test can pin the rounds against a pure-Python recompute
    on arbitrary graphs."""
    und = edges.select(
        F.col("doc_id1").alias("a"), F.col("doc_id2").alias("b")
    ).unionAll(
        edges.select(F.col("doc_id2").alias("a"), F.col("doc_id1").alias("b"))
    )
    h = und.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    deg = h
    w = Window.partitionBy("a").orderBy(F.desc("h"), "b")
    for _ in range(n_rounds):
        h = (
            und.join(h, und["b"] == h["v"])
            .select("a", "b", "h")
            .withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("a").alias("v"))
            .agg(
                F.coalesce(
                    F.max(F.when(F.col("h") >= F.col("rn"), F.col("rn"))),
                    F.lit(0),
                )
                .cast("long")
                .alias("h")
            )
        )
    return (
        deg.select(F.col("v").alias("doc_id"), F.col("h").alias("degree"))
        .join(h.select(F.col("v").alias("doc_id"), F.col("h").alias("core_est")), "doc_id")
    )


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    serve=corpus_deps("documents"),
)
def graph_kcore(spark, sf_dir) -> DataFrame:
    """Coreness estimate of every node in the near-dup candidate
    graph via {3} rounds of the H-index iteration (Lu et al. 2016,
    "The H-index of a network node"): h_0 = degree, h_{{t+1}}(v) =
    H(h_t of v's neighbors) — the largest k such that at least k
    neighbors currently score >= k. The sequence is monotonically
    non-increasing and converges to the exact k-core number; after a
    fixed {3} rounds it is a deterministic UPPER bound (tight on
    short-chain graphs, property-tested against a Python recompute
    and pinned monotone). High-core nodes sit in dense mutual-overlap
    communities — template farms and mirror clusters that triangle
    counts flag locally and coreness ranks globally; a curation pass
    peels cores instead of whole components (``dedup_components``
    merges a chain; a 4-core inside it is the actual boilerplate).

    Exactness: degrees, ranks, and the H-operator are pure integer
    compare/max — no tolerance. The per-neighbor rank uses a total
    order (h DESC, neighbor id) so both engines enumerate
    identically; the H value itself is tie-order-independent.

    Scale (the reason it's H-index, not peeling): exact k-core
    peeling is O(max-core) SEQUENTIAL rounds of global minimum
    extraction — a driver-side loop at 100 TB. The H-index form is
    embarrassingly parallel: each round is one edges-to-scores join
    keyed on the neighbor plus one per-node window+max on the SAME
    node-id partitioning (Spark reuses the exchange), rounds fixed
    and small (coreness error after r rounds decays geometrically in
    practice).

    r14: the rounds run on the CLIQUE-QUOTIENT graph (_rep_graph)
    with MULTIPLICITIES. Every member of an exact-text group has the
    identical neighbor multiset — (c_g - 1) groupmates plus all c_h
    members of each band-colliding group — so H-index values stay
    uniform per group by induction, and each round reduces to a
    WEIGHTED H over quotient rows (value, count): sort a group's
    neighbor rows by value descending with running count, H = max of
    min(value, cumulative count) — the classic H-index identity with
    ties collapsed into one weighted row. The member pair list never
    materializes; a megadup clique is one self-row (v, v, c-1). The
    unchanged member-grain oracle (per-neighbor row_number form)
    hash-proves the weighted identity per driver run."""
    redges, gcount, selfr, rmap = _rep_graph(spark, sf_dir)
    und = redges.select(
        F.col("doc_id1").alias("v"), F.col("doc_id2").alias("u")
    ).unionByName(
        redges.select(F.col("doc_id2").alias("v"), F.col("doc_id1").alias("u"))
    )
    ext = und.join(
        gcount.select(F.col("rep_id").alias("u"), F.col("c").alias("cnt")),
        "u",
    ).select("v", "u", "cnt")
    nodes = (
        und.select("v")
        .unionByName(selfr.select(F.col("rep_id").alias("v")))
        .distinct()
    )
    self_rows = (
        nodes.join(gcount, nodes["v"] == gcount["rep_id"])
        .filter(F.col("c") >= 2)
        .select("v", F.col("v").alias("u"), (F.col("c") - 1).alias("cnt"))
    )
    nbr = ext.unionByName(self_rows).localCheckpoint()
    deg = nbr.groupBy("v").agg(F.sum("cnt").cast("long").alias("h"))
    h = deg
    w = (
        Window.partitionBy("v")
        .orderBy(F.desc("hv"), "u")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for _ in range(_KCORE_ROUNDS):
        hv = h.select(F.col("v").alias("u"), F.col("h").alias("hv"))
        h = (
            nbr.join(hv, "u")
            .withColumn("cum", F.sum("cnt").over(w))
            .groupBy("v")
            .agg(
                F.max(F.least(F.col("hv"), F.col("cum")))
                .cast("long")
                .alias("h")
            )
        )
    rk = deg.withColumnRenamed("h", "degree").join(
        h.withColumnRenamed("h", "core_est"), "v"
    )
    return rmap.join(
        rk.withColumnRenamed("v", "rep_id"), "rep_id"
    ).select("doc_id", "degree", "core_est")


_LPA_ROUNDS = 3


def _label_prop_oracle() -> str:
    from scribedb_spark.operators.dedup import _MINHASH_CTES

    rounds = []
    prev = "l0"
    for t in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    l{t} AS (
      SELECT p.v, LEAST(p.lab, MIN(q.lab)) AS lab
      FROM {prev} p
      JOIN und u ON u.a = p.v
      JOIN {prev} q ON q.v = u.b
      GROUP BY p.v, p.lab)""")
        prev = f"l{t}"
    return f"""
    WITH {_MINHASH_CTES},
    und AS (SELECT doc_id1 AS a, doc_id2 AS b FROM lsh_cand
            UNION ALL SELECT doc_id2, doc_id1 FROM lsh_cand),
    l0 AS (SELECT DISTINCT a AS v, a AS lab FROM und),{','.join(rounds)}
    SELECT f.v AS doc_id, CAST(f.lab AS BIGINT) AS community,
           CAST(COUNT(*) OVER (PARTITION BY f.lab) AS BIGINT)
             AS community_size
    FROM {prev} f
    """


def _min_label_core(edges: DataFrame, n_rounds: int) -> DataFrame:
    """(v, lab) after ``n_rounds`` of synchronous min-label rounds —
    the iteration of :func:`min_label_rounds` without the final
    size window (shared with the rep-grain key, whose sizes are
    group-count sums, not row counts)."""
    und = edges.select(
        F.col("doc_id1").alias("a"), F.col("doc_id2").alias("b")
    ).unionAll(
        edges.select(F.col("doc_id2").alias("a"), F.col("doc_id1").alias("b"))
    )
    lab = und.select(F.col("a").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    for _ in range(n_rounds):
        lab = (
            lab.alias("p")
            .join(und, F.col("p.v") == F.col("a"))
            .join(
                lab.select(
                    F.col("v").alias("qv"), F.col("lab").alias("qlab")
                ),
                F.col("b") == F.col("qv"),
            )
            .groupBy(F.col("p.v"), F.col("p.lab"))
            .agg(F.min("qlab").alias("nmin"))
            .select(
                F.col("v"),
                F.least(F.col("lab"), F.col("nmin")).alias("lab"),
            )
        )
    return lab


def min_label_rounds(edges: DataFrame, n_rounds: int) -> DataFrame:
    """(doc_id, community, community_size) after ``n_rounds`` of
    synchronous min-label propagation over an undirected
    ``(doc_id1, doc_id2)`` edge list: label_0(v) = v,
    label_t(v) = min(label_{t-1}(v), min over neighbors) — so after
    r rounds label(v) is EXACTLY the minimum doc_id within graph
    distance r of v (property-tested against a Python BFS). Factored
    out so tests can pin arbitrary graphs."""
    lab = _min_label_core(edges, n_rounds)
    w = Window.partitionBy("lab")
    return lab.select(
        F.col("v").alias("doc_id"),
        F.col("lab").cast("long").alias("community"),
        F.count(F.lit(1)).over(w).cast("long").alias("community_size"),
    )


@register(
    "graph_label_propagation",
    oracle=_label_prop_oracle(),
    serve=corpus_deps("documents"),
)
def graph_label_propagation(spark, sf_dir) -> DataFrame:
    """Community detection over the near-dup candidate graph via {3}
    rounds of SYNCHRONOUS min-label propagation (the GraphFrames/
    Pregel LPA shape made deterministic): label_0(v) = v, each round
    every node takes the minimum label among itself and its
    neighbors, so after r rounds label(v) is exactly the minimum
    doc_id within r hops — a budget-bounded community id.
    ``dedup_components`` computes FULL connected components (an
    unbounded iteration the oracle mirrors with a recursive CTE);
    this key is the fixed-budget variant a 100 TB pass actually
    schedules: r is a latency knob, long chains stay split (a mirror
    farm 7 hops apart is arguably two communities), and every round
    is one self-join — no convergence detection, no driver loop.

    Exactness: labels are doc_ids (integers); min/least is
    tie-order-independent, so the synchronous schedule makes the
    result schedule-deterministic on both engines (asynchronous LPA
    is famously not). Community sizes are window counts over the
    final labels.

    Scale: each round is one edges-to-labels hash join keyed on the
    neighbor plus a per-node min — the same node-id partitioning
    every round; {3} fixed rounds, no iteration-to-fixpoint.

    r14: the rounds run on the CLIQUE-QUOTIENT graph (_rep_graph).
    Member distance between two groups equals rep distance (rep
    adjacency expands to complete bipartite, so any rep path realizes
    as a member path of the same length and vice versa), and
    groupmates sit at distance 1 via the group clique — hence a
    member's r-hop ball is exactly the members of groups within r rep
    hops, and its min label is the min REP in that ball (rep = group
    min; the member itself is >= its own rep). So: {3} min-label
    rounds over REP edges, lone cliques labeled by their rep, one
    expansion join — the member pair list never materializes, and
    community sizes are group-count sums. The unchanged member-grain
    recursive oracle hash-proves the quotient argument per run."""
    redges, gcount, selfr, rmap = _rep_graph(spark, sf_dir)
    rl = _min_label_core(redges, _LPA_ROUNDS)
    lone = selfr.join(
        rl, selfr["rep_id"] == rl["v"], "left_anti"
    ).select(F.col("rep_id").alias("v"), F.col("rep_id").alias("lab"))
    rlab = rl.unionByName(lone)
    sz = (
        rlab.join(gcount, rlab["v"] == gcount["rep_id"])
        .groupBy("lab")
        .agg(F.sum("c").cast("long").alias("community_size"))
    )
    return (
        rmap.join(rlab.withColumnRenamed("v", "rep_id"), "rep_id")
        .join(sz, "lab")
        .select(
            "doc_id",
            F.col("lab").cast("long").alias("community"),
            "community_size",
        )
    )
