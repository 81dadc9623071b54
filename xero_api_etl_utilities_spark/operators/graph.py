"""Connected components over candidate-pair graphs — the clustering
step a dedup pipeline runs AFTER pair generation (MinHash-LSH /
SimHash emit near-dup PAIRS; keeping one survivor per duplicate
GROUP requires the transitive closure).

No reference counterpart; north-star training-data-pipeline surface.

Algorithm: min-label propagation to fixpoint — every vertex starts
labeled with its own id; each round takes the min over neighbors'
labels; at fixpoint every vertex carries the min id of its component
(a deterministic, engine-independent cluster id, so the result is
DuckDB-oracle-checkable via a recursive CTE running the same
propagation).

Scale design:
- each round is one equi-join (edges × labels on src) plus one
  groupBy-min — partial aggregation absorbs high-degree hub skew
  map-side before the shuffle;
- rounds needed = graph diameter, which for near-dup graphs is tiny
  (duplicate clusters are near-cliques); ``max_iters`` bounds the
  pathological chain case;
- CONVERGENCE-CHECKED operators (connected_components, kcore,
  cc_large_star_small_star, bfs_depths) truncate lineage every round
  via :func:`materialize` — their driver-side fixpoint probes force
  per-round execution anyway, and lazy rounds would re-execute prior
  rounds' subtrees.  FIXED-ROUND operators (pagerank_int,
  label_propagation) keep the whole recurrence as ONE lazy plan
  (no per-round checkpoint job or driver round-trip) and cut it every
  round only when the session checkpoints to reliable storage (see
  :mod:`materialize`); their round counts (5 and 4) keep the nested
  plan shallow;
- convergence is detected by the label-sum invariant: labels only
  ever decrease, so an unchanged sum ⇔ fixpoint. The sum runs in
  DECIMAL(38,0) — a corpus of 10¹² documents with 64-bit ids would
  overflow a BIGINT sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.materialize import (
    materialize,
    reliable_checkpoints,
)

# Endpoint columns of every edge list the operators here read (the
# co-occurrence builders in plans/ emit ``u1 < u2``, one row per
# undirected edge).
_U1, _U2 = "u1", "u2"


def connected_components(edges: DataFrame, max_iters: int = 25) -> DataFrame:
    """(doc, cluster_id) for every vertex appearing in the ``(u1, u2)``
    edges ``edges``; cluster_id = min vertex id of the connected
    component.

    Vertices not mentioned in any edge are absent — callers wanting
    singleton rows left-join this result against their corpus and
    coalesce to the vertex's own id.

    Raises RuntimeError if ``max_iters`` rounds pass without reaching
    the fixpoint (component diameter > max_iters): returning a
    half-propagated labeling would silently split clusters.
    """
    # Materialize the symmetric edge list ONCE: it is joined every
    # round, and without this the whole upstream pipeline (e.g. the
    # MinHash+LSH candidate generation feeding a dedup clustering)
    # would re-execute per round.
    sym = materialize(
        edges.select(F.col(_U1).alias("src"), F.col(_U2).alias("dst"))
        .union(edges.select(F.col(_U2).alias("src"), F.col(_U1).alias("dst")))
        .distinct()
    )
    labels = materialize(
        sym.select(F.col("src").alias("doc"))
        .distinct()
        .select("doc", F.col("doc").alias("lbl"))
    )
    prev_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iters):
        nbr = (
            sym.join(labels.select(F.col("doc").alias("src"), "lbl"), "src")
            .groupBy("dst")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .select(F.col("dst").alias("doc"), "nbr_lbl")
        )
        labels = materialize(
            labels.join(nbr, "doc", "left").select(
                "doc",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            )
        )
        cur_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
        if cur_sum == prev_sum:
            return labels.select("doc", F.col("lbl").alias("cluster_id"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds —"
        " component diameter exceeds max_iters; raise it for chain-shaped graphs."
    )


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles in an undirected simple graph, one row per
    triangle as the id-sorted triple ``(t1, t2, t3)``, t1 < t2 < t3.

    ``edges`` must hold each undirected edge ONCE with ``u1 < u2``
    (the co-occurrence builders in plans/ emit exactly that).

    Scale design — degree-ordered orientation, the standard
    distributed-triangle trick: a naive wedge join fans out
    quadratically on hub vertices (a degree-d vertex contributes
    d·(d-1)/2 wedges; one celebrity node can dominate the whole
    shuffle). Re-orienting every edge from the LOWER-rank endpoint to
    the higher, where rank = (degree, id), caps every vertex's
    out-degree at O(sqrt(|E|)) — a classical bound — so the wedge
    fan-out is bounded no matter how skewed the degree distribution.
    The pipeline is three hash equi-joins (degrees attach, wedge
    build, closing-edge probe); no cartesian, no nested loop. The
    oracle runs the UNORIENTED a<b<c form, so a driver row proves the
    orientation rewrite misses / duplicates nothing.

    ``edges`` is consumed by FOUR subtrees (degrees, orientation,
    wedge legs, closing probe) — per the aggregate-diamond policy
    (PLANS.md: Spark never plans ReusedExchange for these), it is
    materialized once here so an expensive upstream builder (a
    co-occurrence self-join, an LSH candidate frame) runs once, not
    four times.
    """
    edges = materialize(edges)
    a, b = F.col(_U1), F.col(_U2)
    # degree per vertex (each edge touches two vertices)
    verts = edges.select(a.alias("v")).unionAll(edges.select(b.alias("v")))
    deg = verts.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    # orient each edge toward the higher (deg, id) endpoint
    da = deg.withColumnRenamed("v", "_va").withColumnRenamed("deg", "_dega")
    db = deg.withColumnRenamed("v", "_vb").withColumnRenamed("deg", "_degb")
    ranked = (
        edges.join(da, a == F.col("_va"))
        .join(db, b == F.col("_vb"))
        .select(
            a.alias("_a"),
            b.alias("_b"),
            (
                (F.col("_dega") < F.col("_degb"))
                | ((F.col("_dega") == F.col("_degb")) & (a < b))
            ).alias("_fwd"),
        )
    )
    oriented = ranked.select(
        F.when(F.col("_fwd"), F.col("_a")).otherwise(F.col("_b")).alias("src"),
        F.when(F.col("_fwd"), F.col("_b")).otherwise(F.col("_a")).alias("dst"),
    )
    # wedges: two out-edges of the same (low-rank) pivot; dedup the
    # unordered leg pair by id to count each wedge once
    e1 = oriented.select(F.col("src").alias("p"), F.col("dst").alias("x"))
    e2 = oriented.select(F.col("src").alias("p2"), F.col("dst").alias("y"))
    wedges = e1.join(e2, (F.col("p") == F.col("p2")) & (F.col("x") < F.col("y"))).select(
        "p", "x", "y"
    )
    # closing edge: (x, y) present in the oriented list in EITHER
    # direction — probe the undirected canonical form instead.  The
    # wedge join guarantees x < y, so (x, y) IS already the canonical
    # (lo, hi) pair: probing on the plain columns instead of computed
    # least/greatest keys keeps the equi-join keys attribute-only
    # (measured ~0.3 s at sf0.1; identical pair set).
    closing = edges.select(a.alias("cx"), b.alias("cy"))
    tri = wedges.join(
        closing,
        (F.col("x") == F.col("cx")) & (F.col("y") == F.col("cy")),
    )
    srt = F.array_sort(F.array("p", "x", "y"))
    return tri.select(
        srt.getItem(0).alias("t1"),
        srt.getItem(1).alias("t2"),
        srt.getItem(2).alias("t3"),
    )


def pagerank_int(edges: DataFrame) -> DataFrame:
    """Five rounds of PageRank over an UNDIRECTED graph in pure integer
    arithmetic — every rank is a bigint in units of ``1/scale``
    (scale = 10^12), so the result is
    deterministic, order-independent (integer sums commute exactly,
    float sums do not) and bit-reproducible in any engine: the catalog
    oracle replays the identical recurrence in DuckDB.

    Recurrence (integerized, all divisions integral and all values
    positive so truncation semantics agree across engines)::

        contrib(e) = rank[src] div deg[src]
        rank'[v]   = (15 * (scale div n)) div 100
                     + (85 * sum_in(v)) div 100

    Scale shape: per round ONE equi-join (edges × ranks on src) and
    ONE groupBy-sum — the same bounded pattern as
    :func:`connected_components`, with partial aggregation absorbing
    hub skew map-side. The round count is FIXED (no driver-side
    convergence probe), so the whole recurrence stays ONE lazy plan,
    cut every round only when the session checkpoints to reliable
    storage, so that a multi-hour run survives executor loss
    mid-recurrence. ``n`` is a 1-row driver scalar
    (documented pattern). Undirected edges are expanded to both
    directions, so every vertex has degree >= 1 — no dangling-mass
    term needed.
    """
    a, b = F.col(_U1), F.col(_U2)
    # edges feeds both union branches: materialize so the upstream
    # builder runs once (aggregate-diamond policy, PLANS.md)
    edges = materialize(edges)
    directed = edges.select(a.alias("src"), b.alias("dst")).unionAll(
        edges.select(b.alias("src"), a.alias("dst"))
    )
    directed = materialize(directed)
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()  # vertex count: 1-row driver scalar
    scale = 10**12
    base = (15 * (scale // n)) // 100
    ranks = deg.select(
        F.col("src").alias("v"), F.lit(scale // n).cast("long").alias("rank")
    )
    withdeg = directed.join(deg, "src")
    per_round = reliable_checkpoints(edges)
    for _ in range(5):
        contrib = withdeg.join(ranks, withdeg.src == ranks.v).select(
            F.col("dst"), F.expr("rank div deg").alias("c")
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
            .select(
                F.col("dst").alias("v"),
                (
                    F.lit(base)
                    + F.expr("85 * in_sum div 100").cast("long")
                ).alias("rank"),
            )
        )
        # FIXED round count and no driver-side convergence check, so
        # the whole recurrence stays ONE lazy plan — per-round
        # materialization spent a checkpoint job + driver round-trip
        # per iteration for a 5-deep lineage (measured 4.6 → 2.5 s at
        # sf0.1).  Under reliable storage the per-round truncation is
        # kept, so a multi-hour run survives executor loss
        # mid-recurrence.
        if per_round:
            ranks = materialize(ranks)
    return ranks


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan's
    LPA) over an UNDIRECTED graph, made fully deterministic: every
    vertex starts labeled with its own id, and each round adopts the
    most frequent label among its NEIGHBORS, ties broken to the
    smallest label.  Classic LPA breaks ties randomly and updates
    asynchronously in shuffled vertex order — both banned here
    (engine/partitioning/rerun-stable results are a catalog
    invariant), so this is the synchronous min-tie variant: identical
    rounds in any engine, which is what lets the DuckDB oracle replay
    it move for move.  Fixed ``iters`` rounds (synchronous LPA can
    2-cycle on bipartite structure, so a fixpoint test would not
    terminate; a small fixed round count is the standard remedy and
    keeps the oracle finitely unrollable).

    Per round: ONE equi-join (edges × labels on src) + ONE
    (dst, label) count aggregate + ONE per-dst argmax via ``max_by``
    — the same bounded shuffle pattern as :func:`pagerank_int`, and
    the same laziness contract: fixed rounds, one lazy plan, per-round
    truncation only under reliable storage.  The catalog runs 4
    rounds; a test runs 1 to see the tie-break.  Returns
    ``(v, label)``."""
    a, b = F.col(_U1), F.col(_U2)
    edges = materialize(edges)
    directed = edges.select(a.alias("src"), b.alias("dst")).unionAll(
        edges.select(b.alias("src"), a.alias("dst"))
    )
    directed = materialize(directed)
    labels = directed.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    per_round = reliable_checkpoints(edges)
    for _ in range(iters):
        msgs = directed.join(labels, directed.src == labels.v).select(
            F.col("dst"), F.col("label")
        )
        labels = (
            msgs.groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("dst")
            .agg(F.expr("max_by(label, struct(cnt, -label))").alias("label"))
            .select(F.col("dst").alias("v"), "label")
        )
        # fixed rounds, no driver convergence check → lazy recurrence,
        # cut per round under reliable storage, as in pagerank_int above
        if per_round:
            labels = materialize(labels)
    return labels


def bfs_depths(edges: DataFrame, seed: int) -> DataFrame:
    """Breadth-first hop distance from ``seed`` over an UNDIRECTED
    graph — the reachability/diameter probe beside the other iterative
    operators (CC, PageRank, LPA, k-core).  Per round: ONE semi-join
    (neighbors of the current frontier) and ONE anti-join (drop
    already-visited vertices) — both broadcast-sized once frontiers
    stabilize, lineage truncated per round.  Returns ``(v, depth)``
    for vertices within 4 hops; unreached vertices are
    absent (callers count them against the vertex set).  Purely
    set-algebraic — no tie-breaks, so any engine replays it exactly."""
    a, b = F.col(_U1), F.col(_U2)
    edges = materialize(edges)
    directed = edges.select(a.alias("src"), b.alias("dst")).unionAll(
        edges.select(b.alias("src"), a.alias("dst"))
    )
    directed = materialize(directed)
    visited = directed.sparkSession.createDataFrame(
        [(seed, 0)], "v bigint, depth int"
    )
    frontier = visited.select("v")
    for k in range(1, 5):
        nxt = (
            directed.join(frontier, directed.src == frontier.v, "left_semi")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
        )
        # nxt feeds BOTH the next round's frontier and the visited
        # accumulator, so it must materialize (lazy would double-execute
        # every prior round's subtree — exponential in depth); visited
        # itself is just a union of already-materialized frontiers, so
        # its own per-round checkpoint bought nothing (one checkpoint
        # job per round instead of two)
        nxt = materialize(nxt.select("v", F.lit(k).alias("depth")))
        visited = visited.unionAll(nxt)
        frontier = nxt.select("v")
    return visited


def kcore(edges: DataFrame, k: int) -> DataFrame:
    """The k-core: the maximal subgraph where every vertex keeps
    degree >= k — the standard dense-community / spam-ring extractor.
    Iterative peeling: drop sub-k vertices, re-derive degrees, repeat
    to fixpoint; each round is one groupBy-count plus two semi-joins
    (both endpoints must survive), lineage truncated per round like
    the other iterative operators. Converges in peel-depth rounds
    (4 on the co-occurrence fixture); a 25-round cap bounds the
    pathological chain. Returns ``(v, core_degree)`` for the
    surviving vertices. Deterministic: peeling is order-independent
    (the fixpoint is unique), so a fixed-unroll SQL oracle matches
    whenever its round count >= the true peel depth (asserted by the
    convergence loop here)."""
    a, b = F.col(_U1), F.col(_U2)
    cur = materialize(edges.select(a.alias("x"), b.alias("y")))
    n_prev = -1
    for _ in range(25):
        deg = (
            cur.select(F.col("x").alias("v"))
            .unionAll(cur.select(F.col("y").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = materialize(deg.filter(F.col("deg") >= k).select("v"))
        n = keep.count()
        if n == n_prev:
            return deg.filter(F.col("deg") >= k).select(
                "v", F.col("deg").alias("core_degree")
            )
        n_prev = n
        cur = materialize(
            cur.join(keep, cur.x == keep.v, "left_semi").join(
                keep, cur.y == keep.v, "left_semi"
            )
        )
    raise RuntimeError(
        "kcore did not converge in 25 rounds — the peel depth exceeds the cap"
    )


def cc_large_star_small_star(edges: DataFrame, max_iters: int = 15) -> DataFrame:
    """Connected components of the ``(u1, u2)`` edge list ``edges`` by
    alternating Large-Star / Small-Star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the O(log n)-round algorithm, vs
    :func:`connected_components`' min-label propagation which needs
    DIAMETER-many rounds (a 10^6-hop chain in a web-scale graph is
    10^6 joins there, ~20 here).

    One round:

    * Large-Star — group the symmetric edge list by node u, let
      m = min(neighbors(u) + [u]); every neighbor v > u re-attaches
      to m (edges (v, m)).
    * Small-Star — group the canonical (lo < hi) edge list by the
      LARGER endpoint u over its smaller neighbors S, let
      m = min(S); every v in S re-attaches to m, and u itself
      attaches to m (edges (v, m) + (u, m)).

    Both steps preserve connectivity and strictly shrink the
    potential function of the paper; at the fixpoint the edge set is
    one star per component centered at the component minimum, so the
    labeling reads off the edges directly: label(v) = lo of v's
    (unique) star edge, label(center) = itself.  The fixpoint test is
    (count, checksum) equality of the canonical edge set round over
    round — two driver scalars per round, the same convergence probe
    connected_components uses.

    Scale: every step is a groupBy-min + equi-join on node ids — no
    windows, no collects of data; per-round frames are materialized
    (lineage truncated) exactly like the other iterative operators.
    Matches connected_components row-for-row (pytest-pinned on chains,
    bridged cliques, and the corpus graph)."""
    e = materialize(
        edges.select(
            F.least(F.col(_U1), F.col(_U2)).alias("lo"),
            F.greatest(F.col(_U1), F.col(_U2)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )

    def edge_probe(frame: DataFrame):
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("lo").cast("decimal(38,0)") * 1_000_003 + F.col("hi"))
            ).alias("s"),
        ).collect()[0]
        return row["n"], row["s"]

    def edges_equal(prev: DataFrame, cur: DataFrame, n: int) -> bool:
        # EXACT fixpoint test (the checksum probe alone admits a
        # collision that would silently emit a pre-fixpoint labeling):
        # both frames are distinct, so set equality iff equal counts
        # and |prev ∩ cur| == n — one tiny equi-join count per round
        # that reaches this far.
        inter = prev.join(cur, ["lo", "hi"], "inner").count()
        return inter == n

    probe = edge_probe(e)
    for _ in range(max_iters):
        # ---- large star ----
        sym = e.select(F.col("lo").alias("x"), F.col("hi").alias("n")).unionAll(
            e.select(F.col("hi").alias("x"), F.col("lo").alias("n"))
        )
        mins = sym.groupBy("x").agg(
            F.least(F.min("n"), F.first("x")).alias("m")
        )
        large = (
            sym.join(mins, "x")
            .filter(F.col("n") > F.col("x"))
            .select(
                F.least(F.col("n"), F.col("m")).alias("lo"),
                F.greatest(F.col("n"), F.col("m")).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        e1 = materialize(large)
        # ---- small star ----
        smins = e1.groupBy("hi").agg(F.min("lo").alias("m"))
        attached = e1.join(smins, "hi")
        small = (
            attached.select(F.col("lo").alias("v"), "m")
            .unionAll(attached.select(F.col("hi").alias("v"), "m"))
            .filter(F.col("v") != F.col("m"))
            .select(
                F.least(F.col("v"), F.col("m")).alias("lo"),
                F.greatest(F.col("v"), F.col("m")).alias("hi"),
            )
            .distinct()
        )
        prev = e
        e = materialize(small)
        cur = edge_probe(e)
        # cheap (count, checksum) probe first: a mismatch proves the
        # edge set changed with no extra job; a match is CONFIRMED by
        # the exact intersection count before declaring the fixpoint
        if cur == probe and edges_equal(prev, e, cur[0]):
            break
        probe = cur
    else:
        raise RuntimeError(
            f"cc_large_star_small_star did not converge in {max_iters}"
            " rounds — raise max_iters (expected O(log n))."
        )
    return (
        e.select(F.col("hi").alias("doc"), F.col("lo").alias("cluster_id"))
        .unionAll(
            e.select(F.col("lo").alias("doc"), F.col("lo").alias("cluster_id"))
        )
        .distinct()
    )
