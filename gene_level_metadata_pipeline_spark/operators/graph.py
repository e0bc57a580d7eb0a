"""Graph operators over edge lists: components, rankings, cores, paths
and walks.

Dedup clustering ends here: :func:`connected_components` and
:func:`canonicalize_duplicates` map every near-dup cluster to one
representative. The other operators (PageRank, HITS, k-core, k-truss,
label propagation, BFS, weighted and temporal shortest paths, random
walks, triangle and clustering counts) rank and carve the same edge
lists. Every operator returns a DataFrame the caller keeps composing.

Edges take two normal forms, each built in one place: ``_simple_edges``
(one canonical ``u < v`` row per undirected edge) and ``_both_ways``
(every edge in both orientations). ``_node_edges``, the input of
components and PageRank, is ``_both_ways`` over the pairs with two
non-NULL endpoints, self-loops kept. The iterative operators run through
one gate, ``_iterate``. A graph of at most ``_DRIVER_EDGE_CAP`` edges is
collected to the driver, where a pure-Python twin replays the
distributed recurrence exactly. The one punt rule: a NULL in any edge
field, or a seed set that holds NULL, outnumbers the cap or is typed
unlike the edge ids, sends the graph to the distributed loop, which
stays the single source of truth for SQL NULL semantics. Larger graphs
run the distributed loop with its shuffles sized from the edge count
(``sizing.sized_shuffle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from gene_level_metadata_pipeline_spark.operators.dedup import _hex_int
from gene_level_metadata_pipeline_spark.sizing import sized_shuffle

__all__ = [
    "connected_components",
    "canonicalize_duplicates",
    "pagerank",
    "triangle_count",
    "bfs_hops",
    "clustering_coefficient",
    "kcore",
    "sssp_weighted",
    "hits_bipartite",
    "label_propagation",
    "random_walks",
    "temporal_reachability",
    "truss_peel",
]


# Small-graph escape: at or under this many edges the graph collects to
# the driver (<= ~3 MB of longs, bounded by the constant, not the data)
# and a twin finishes in microseconds, where the distributed loop pays
# ~1.5 s of job latency per round whatever the size (13.8 s of round
# overhead on dbscan's 12.6k-edge sf0.1 core graph). Interleaved A/B of
# escape against loop measured 0.68-0.93 for every twin
# (certification/escape_ab_r10.json); bfs_hops has no twin, its escape
# measured 1.035. Read at call time, so tests can force either path.
_DRIVER_EDGE_CAP = 200_000

# Round cap of the distributed component loop: with pointer jumping a
# round roughly halves the remaining diameter, so 20 rounds cover any
# realistic dup graph; hitting it raises rather than returning labels
# that have not converged.
_CC_MAX_ITER = 20

# Power iterations of pagerank, on both the distributed and the driver
# path; the oracle replays the same 3-round unroll.
_PAGERANK_ROUNDS = 3

# Peeling rounds kcore allows before it raises instead of returning a
# non-core.
_KCORE_MAX_ROUNDS = 40
_KCORE_NO_FIXPOINT = (
    f"kcore: no fixpoint after {_KCORE_MAX_ROUNDS} peeling rounds"
)

_NO_SEED_IN_GRAPH = (
    "pagerank: no seed node appears in the graph — a personalized walk "
    "with an empty effective seed set has no reset distribution"
)


def _simple_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """The simple undirected graph of ``pairs``: one ``(u, v)`` row with
    ``u < v`` per edge; self-loops, NULL endpoints and duplicates drop."""
    a, b = F.col(src), F.col(dst)
    return (
        pairs.where(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )


def _both_ways(
    df: DataFrame,
    a: str = "u",
    b: str = "v",
    names: tuple[str, str] = ("u", "v"),
    payload: tuple = (),
    directed: bool = False,
) -> DataFrame:
    """Edges ``(a, b)`` as the columns ``names``, followed by the
    reversed ``(b, a)`` rows; every row carries the ``payload`` columns.
    ``directed`` keeps the given orientation only."""
    x, y = names
    out = df.select(F.col(a).alias(x), F.col(b).alias(y), *payload)
    if directed:
        return out
    return out.unionByName(
        df.select(F.col(b).alias(x), F.col(a).alias(y), *payload)
    )


def _node_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Both orientations of every pair whose endpoints are both non-NULL,
    deduplicated. Self-loops stay, so a node linked only to itself is
    still a node."""
    kept = pairs.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    return _both_ways(kept, src, dst).distinct()


def _seed_ids(seeds: DataFrame, node_t) -> set | None:
    """The distinct ids of ``seeds``' first column, or None to punt when
    they are typed unlike the edge ids, outnumber the cap or hold NULL.
    One job, not count + collect: the seed frame is often an
    uncheckpointed subquery, which two actions would run twice."""
    if seeds.schema.fields[0].dataType != node_t:
        return None
    rows = (
        seeds.select(F.col(seeds.columns[0]))
        .distinct()
        .limit(_DRIVER_EDGE_CAP + 1)
        .collect()
    )
    ids = {r[0] for r in rows}
    if len(rows) > _DRIVER_EDGE_CAP or None in ids:
        return None
    return ids


def _replay(edges, twin, fields, seeds) -> DataFrame | None:
    """The driver path of :func:`_iterate`, or None to punt."""
    node_t = edges.schema.fields[1].dataType
    rows = edges.collect()
    if any(f is None for r in rows for f in r):
        return None
    args = ()
    if seeds is not None:
        ids = _seed_ids(seeds, node_t)
        if ids is None:
            return None
        args = (ids,)
    schema = StructType([
        StructField(name, dtype or node_t, nullable)
        for name, dtype, nullable in fields
    ])
    return edges.sparkSession.createDataFrame(twin(rows, *args), schema)


def _iterate(
    edges: DataFrame, loop, twin=None, fields=(), seeds=None
) -> DataFrame:
    """Run an iterative operator over ``edges``.

    The edges are checkpointed and counted. At or under the cap,
    ``twin(rows)`` (``twin(rows, seed_ids)`` when ``seeds`` is given)
    returns the output rows from the collected edges, framed by
    ``fields``: (name, type, nullable) triples in which type None is the
    edge id type. Otherwise, or when the punt rule fires,
    ``loop(edges, n_edges)`` runs inside a ``sized_shuffle`` window. The
    conf is read when a job runs, so when the sizing changed it the
    loop's result is checkpointed before the window restores it.
    """
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    if twin is not None and n_edges <= _DRIVER_EDGE_CAP:
        out = _replay(edges, twin, fields, seeds)
        if out is not None:
            return out
    with sized_shuffle(edges.sparkSession, n_edges) as sz:
        out = loop(edges, n_edges)
        if sz.changed:
            out = out.localCheckpoint(eager=True)
    return out


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Component labels for every node appearing in ``pairs``; a pair
    with a NULL endpoint is dropped.

    Returns (doc_id, component) where ``component`` is the MINIMUM node id
    in the connected component — deterministic, engine-independent.
    Each round combines neighbor-min propagation with pointer jumping
    (``label ← label[label]``), so convergence is O(log diameter) rounds,
    not O(diameter) — a 30-node path converges in ~6 rounds instead of 30.
    Converges when a round changes no label; raises if 20 rounds
    (``_CC_MAX_ITER``) pass first.

    Per-round shuffles are SELF-SIZED: the materialized edge count sizes
    ``spark.sql.shuffle.partitions`` for the loop (``sizing.sized_shuffle``,
    restored on exit) — a 30x stress measured the bend in the marginal
    cost as shuffle spill and confirmed the partitions lever removes it
    (73.3s → 60.0s; PLANS.md).
    """
    return _iterate(
        _node_edges(pairs, src, dst),
        lambda edges, _n: _cc_loop(edges),
        _cc_twin,
        (("doc_id", None, True), ("component", None, True)),
    )


def _cc_twin(rows) -> list:
    """Union-find over the edge rows; labels each node with its
    component's MIN id, like the distributed loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(n, find(n)) for n in parent]


def _cc_loop(edges: DataFrame) -> DataFrame:
    """The distributed rounds of :func:`connected_components`; every
    round is an eager localCheckpoint.

    Each round CONTRACTS the edge set onto label space: every edge
    relabels to (label[u], label[v]), self-loops (edges already settled
    inside one label) drop, and duplicates collapse. Dup graphs are
    clique-heavy, so round 1 collapses each k-clique from k² edges to a
    star of its representative, and later rounds shuffle only the
    still-merging representatives instead of all edges (a 100x curve
    grew 17x superlinearly without it). A contracted edge connects its
    endpoints' representatives, so min-label propagation over the
    contracted graph reaches every representative, and pointer jumping
    drags every original node's label along the root chain; the output
    stays component = MIN node id.
    """
    # round 0 fused into init: label = min(self, direct neighbors) — one
    # agg over the edges instead of a full join round
    labels = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.first("u"), F.min("v")).alias("label"))
        .localCheckpoint(eager=True)
    )

    for _ in range(_CC_MAX_ITER):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy(F.col("u").alias("n"))
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the pre-round label through as __old: the convergence
        # check then needs no extra join against the previous frame
        stepped = (
            labels.join(neighbor_min, labels.node == F.col("n"), "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jumping: label <- label[label] (skip a level per round)
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            stepped.join(parent, stepped.label == parent.p_node, "left")
            .select(
                "node",
                "__old",
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # checkpoint each round: truncates the exponentially-growing lineage.
        # The convergence metric rides on the checkpoint's own materialization
        # job via observe() — one Spark job per round, not two.
        obs = Observation()
        new_labels = new_labels.observe(
            obs,
            F.sum((F.col("label") < F.col("__old")).cast("long")).alias(
                "changed"
            ),
        ).localCheckpoint(eager=True)
        # sum over an EMPTY frame observes NULL, not 0 — coalesce it, or a
        # zero-pair input (a clean corpus: no near-dups found) would spin
        # _CC_MAX_ITER checkpoint jobs and then raise instead of returning the
        # empty label frame
        changed = obs.get["changed"] or 0
        labels = new_labels.drop("__old")
        if changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("component")
            )
        # CONTRACT: labels ARE node ids, so the neighbor-min join keys
        # stay valid. Two label-sized hash joins per round, each on a
        # frame that shrinks geometrically for clique-heavy dup graphs.
        lu = labels.select(
            F.col("node").alias("__un"), F.col("label").alias("__ul")
        )
        lv = labels.select(
            F.col("node").alias("__vn"), F.col("label").alias("__vl")
        )
        relabelled = edges.join(lu, edges.u == F.col("__un")).join(
            lv, edges.v == F.col("__vn")
        )
        edges = _both_ways(
            _simple_edges(relabelled, "__ul", "__vl")
        ).localCheckpoint(eager=True)
    raise RuntimeError(
        f"connected_components: no convergence in {_CC_MAX_ITER} iterations"
    )


def canonicalize_duplicates(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Map every document to its canonical representative: component
    minimum for clustered docs, itself otherwise. The final dedup step —
    ``docs.where(col(id) == col('canonical_id'))`` keeps one row per
    cluster."""
    comp = connected_components(pairs)
    return docs.join(
        comp, docs[id_col] == comp.doc_id, "left"
    ).select(
        docs[id_col],
        F.coalesce(F.col("component"), docs[id_col]).alias("canonical_id"),
    )


def pagerank(
    pairs: DataFrame,
    src: str = "u",
    dst: str = "v",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """3-iteration PageRank over an undirected pair list, in exact
    integer arithmetic.

    Ranks are carried as bigint micro-units (10^12 = 1.0) and every
    step is integer-only at a fixed damping of 85% — init = 10^12 // N,
    contribution = pr div degree, update = (15% of init) + (85% of
    contribution sum) div 100 —
    so partial-aggregation order cannot perturb results and any SQL
    engine unrolling the same recurrence reproduces the bigints exactly
    (float PageRank diverges across engines in the last ulps; the tiny
    floor-division mass leak here is identical everywhere). Returns
    (node, pr) with pr in micro-units. A pair with a NULL endpoint is
    dropped, so NULL is never a node and never counts in N.

    Scale: each iteration is one join edges⋈ranks (shuffle on node id)
    plus a grouped sum — the standard power-iteration plan; hub-node skew
    is AQE's skew-join case. The rounds are not checkpointed: a plan
    three joins deep is exactly what Catalyst handles, and each eager
    checkpoint would be one more blocking job. N is materialized once (a
    count action) before the loop. Small graphs replay the recurrence on
    the driver (see the module docstring); the bigints are identical.

    ``seeds`` (optional, a 1-column frame of node ids) switches to
    PERSONALIZED PageRank: the reset mass — the initial ranks and the
    per-round 15% teleport term — concentrates uniformly on
    the seed nodes instead of all nodes (init = 10^12 // |S| for seeds,
    0 otherwise), so ranks measure proximity TO THE SEED SET (the "find
    items related to this known-good set" query). Still exact bigint
    arithmetic: the per-node base rides the node frame as a broadcast-
    joined column, seeds outside the graph are ignored, and an empty
    effective seed set raises. ``seeds=None`` is bit-identical to the
    classic uniform recurrence.
    """

    def loop(edges: DataFrame, _n: int) -> DataFrame:
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        n = deg.count()
        if n == 0:
            # empty graph: return the empty (node, pr) frame instead of
            # dividing the initial mass by zero
            return deg.select(
                F.col("u").alias("node"), F.lit(None).cast("long").alias("pr")
            )
        nodes = deg.select(F.col("u").alias("node"), "d")
        if seeds is None:
            init = 10 ** 12 // n
            nodes = nodes.withColumn(
                "__base",
                F.lit((15 * init) // 100).cast("long"),
            )
            pr = nodes.select("node", F.lit(init).cast("long").alias("pr"))
        else:
            seed_df = (
                seeds.select(F.col(seeds.columns[0]).alias("node"))
                .distinct()
                .withColumn("__is_seed", F.lit(True))
            )
            nodes = nodes.join(F.broadcast(seed_df), "node", "left")
            ns = nodes.where(F.col("__is_seed")).count()
            if ns == 0:
                raise ValueError(_NO_SEED_IN_GRAPH)
            init = 10 ** 12 // ns
            seed_base = (15 * init) // 100
            nodes = nodes.withColumn(
                "__base",
                F.when(F.col("__is_seed"), F.lit(seed_base))
                .otherwise(F.lit(0)).cast("long"),
            )
            pr = nodes.select(
                "node",
                F.when(F.col("__is_seed"), F.lit(init))
                .otherwise(F.lit(0)).cast("long").alias("pr"),
            )
            nodes = nodes.drop("__is_seed")
        for _ in range(_PAGERANK_ROUNDS):
            prd = pr.join(nodes, "node")
            contrib = (
                edges.join(prd, edges.u == prd.node)
                .select(F.col("v").alias("node"), F.expr("pr div d").alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
            pr = (
                nodes.select("node", "__base")
                .join(contrib, "node", "left")
                .select(
                    "node",
                    (
                        F.col("__base")
                        + F.expr("(85 * coalesce(s, 0)) div 100")
                    ).cast("long").alias("pr"),
                )
            )
        return pr

    return _iterate(
        _node_edges(pairs, src, dst),
        loop,
        _pagerank_twin,
        (("node", None, True), ("pr", LongType(), True)),
        seeds,
    )


def _pagerank_twin(rows, seeds: set | None = None) -> list:
    deg: dict = {}
    for u, _v in rows:
        deg[u] = deg.get(u, 0) + 1
    if not deg:
        return []
    if seeds is None:
        init = 10 ** 12 // len(deg)
        base = dict.fromkeys(deg, (15 * init) // 100)
        pr = dict.fromkeys(deg, init)
    else:
        eff = seeds & set(deg)
        if not eff:
            raise ValueError(_NO_SEED_IN_GRAPH)
        init = 10 ** 12 // len(eff)
        seed_base = (15 * init) // 100
        base = {u: (seed_base if u in eff else 0) for u in deg}
        pr = {u: (init if u in eff else 0) for u in deg}
    for _ in range(_PAGERANK_ROUNDS):
        # all values non-negative, so Python // replays `div` exactly
        contrib = {u: pr[u] // deg[u] for u in deg}
        s = dict.fromkeys(deg, 0)
        for u, v in rows:
            s[v] += contrib[u]
        pr = {u: base[u] + (85 * s[u]) // 100 for u in deg}
    return list(pr.items())


def triangle_count(
    pairs: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Global triangle count via the ordered-edge join (the classic
    MapReduce formulation): canonicalize every undirected edge to
    ``u < v``, build wedges ``u < v < w`` by joining ordered edges on
    the shared low endpoint, and close each wedge against the edge set.
    The ordering means every triangle is counted exactly once and the
    wedge join fans out only from each node's HIGHER-numbered neighbors
    — the standard degree-skew mitigation (a hub's wedge count is driven
    by its ordered degree, not its full degree; AQE's skew-join split
    covers the rest). Two shuffle joins over (bigint, bigint) edges —
    payload-free. Returns a single row (n_triangles).
    """
    e = _simple_edges(pairs, src, dst)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("a"),
        F.col("e1.v").alias("b"),
        F.col("e2.v").alias("c"),
    )
    closed = wedges.join(
        e, (F.col("a") == F.col("u")) & (F.col("c") == F.col("v"))
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def bfs_hops(
    pairs: DataFrame,
    sources: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_hops: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Minimum-hop distance from a seed set: level-synchronous BFS.

    ``sources`` is a one-column DataFrame of seed node ids (column name
    arbitrary — first column is used). Returns (node, hop) for every
    node reachable within ``max_hops`` edges, hop = shortest distance;
    seeds get hop 0. Undirected by default (edges traversed both ways).

    The loop is the textbook frontier iteration: each round joins the
    CURRENT frontier (not the whole visited set) to the edge list, then
    anti-joins the visited set to keep first discoveries only — per-round
    work is proportional to the frontier's edge boundary, the same shape
    Pregel/GraphX uses at billions of edges. Rounds are eager
    localCheckpoints (lineage truncation) inside a ``sized_shuffle``
    window, and the frontier size rides on the checkpoint's
    materialization via observe() — one job per round. The loop exits
    when a level adds no nodes, so diameter < max_hops costs no extra
    rounds. There is no driver twin: the frontier loop already exits
    after ~diameter cheap rounds.
    """

    def loop(edges: DataFrame, _n: int) -> DataFrame:
        visited = (
            sources.select(F.col(sources.columns[0]).alias("node"))
            .distinct()
            .withColumn("hop", F.lit(0))
            .localCheckpoint(eager=True)
        )
        frontier = visited
        for h in range(1, max_hops + 1):
            obs = Observation()
            nxt = (
                frontier.join(edges, frontier.node == edges.eu)
                .select(F.col("ev").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .withColumn("hop", F.lit(h))
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            if (obs.get["n"] or 0) == 0:
                break
            visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        return visited

    edges = _both_ways(pairs, src, dst, ("eu", "ev"), directed=directed)
    return _iterate(edges.distinct(), loop)


def clustering_coefficient(
    pairs: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Local clustering coefficient per node over an undirected simple
    graph given as ``(src, dst)`` pairs (either orientation, duplicates
    tolerated): cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close each
    node's neighborhood is to a clique, the standard community-structure
    diagnostic beside the global ``triangle_count``.

    Per-node triangle counts reuse the degree-ordered orientation trick:
    enumerate each triangle ONCE on oriented wedges (u→v, v→w closed by
    u→w), then credit all three corners with one groupBy over the
    exploded corner list — no per-node re-enumeration. Both tri and deg
    are exact bigints, so (cc_num, cc_den) are hash-comparable and only
    the reported ratio is a double. Isolated or degree-1 nodes have an
    undefined coefficient -> NULL (try_divide), not 0.
    """
    edges = _both_ways(_simple_edges(pairs, src, dst))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # orient by (degree, id): each triangle appears exactly once
    ranked = edges.join(deg.withColumnRenamed("u", "n").withColumnRenamed(
        "deg", "du"), F.col("u") == F.col("n")).drop("n")
    ranked = ranked.join(
        deg.withColumnRenamed("u", "n").withColumnRenamed("deg", "dv"),
        F.col("v") == F.col("n"),
    ).drop("n")
    oriented = ranked.where(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v")
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tris = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
    )
    tri_per_node = tris.groupBy("node").agg(
        F.count(F.lit(1)).alias("tri")
    )
    return (
        deg.withColumnRenamed("u", "node")
        .join(tri_per_node, "node", "left")
        .na.fill(0, ["tri"])
        .select(
            "node",
            "deg",
            "tri",
            (
                F.round(
                    F.try_divide(
                        (F.lit(2) * F.col("tri")).cast("double"),
                        (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                    )
                    * F.lit(1e6),
                    0,
                )
                / F.lit(1e6)
            ).alias("cc"),
        )
    )


def kcore(
    pairs: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """The k-core of an undirected simple graph: the maximal subgraph in
    which every node has degree >= ``k`` — the standard "dense backbone"
    extractor (community seeds, spam-farm detection, influence floors).
    Input pairs may carry either orientation and duplicates; self-loops
    are dropped. Returns (node, core_deg) for k-core members, where
    ``core_deg`` is the node's degree WITHIN the core (>= k by
    construction) — exact bigints, hash-comparable.

    Algorithm is iterative peeling (Matula-Beck without the ordering):
    each round recomputes degrees over the surviving edge set and drops
    every edge touching a node of degree < k; the fixpoint is the
    k-core. Rounds are O(peeling depth), each a single groupBy +
    broadcast-or-shuffle join over the shrinking edge frame — the frame
    only ever SHRINKS, so the first round bounds the cost and
    ``sized_shuffle`` sizes partitions from the initial edge count.
    Rounds eagerly localCheckpoint (lineage truncation, the
    connected_components discipline) and ride an Observation for the
    edge count, so convergence detection costs no extra job. Raises if
    40 rounds don't converge (fail loud, never silently
    return a non-core)."""
    if k < 1:
        raise ValueError(f"kcore: k={k} must be >= 1")

    def loop(edges: DataFrame, n_edges: int) -> DataFrame:
        for _ in range(_KCORE_MAX_ROUNDS):
            if n_edges == 0:
                break
            deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.where(F.col("d") >= k).select("u")
            obs = Observation()
            nxt = (
                edges.join(keep, "u")
                .join(keep.withColumnRenamed("u", "v"), "v")
                .select("u", "v")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n_next = obs.get["n"] or 0
            if n_next == n_edges:
                edges = nxt
                break
            edges, n_edges = nxt, n_next
        else:
            raise RuntimeError(_KCORE_NO_FIXPOINT)
        return edges.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("core_deg")
        )

    return _iterate(
        _both_ways(_simple_edges(pairs, src, dst)),
        loop,
        lambda rows: _kcore_twin(rows, k),
        (("node", None, True), ("core_deg", LongType(), False)),
    )


def _kcore_twin(rows, k: int) -> list:
    es = {(u, v) for u, v in rows}  # symmetric, like the frame
    for _ in range(_KCORE_MAX_ROUNDS):
        if not es:
            break
        deg: dict = {}
        for u, _v in es:
            deg[u] = deg.get(u, 0) + 1
        keep = {u for u, d in deg.items() if d >= k}
        nxt = {(u, v) for (u, v) in es if u in keep and v in keep}
        if len(nxt) == len(es):
            break
        es = nxt
    else:
        raise RuntimeError(_KCORE_NO_FIXPOINT)
    core_deg: dict = {}
    for u, _v in es:
        core_deg[u] = core_deg.get(u, 0) + 1
    return list(core_deg.items())


def sssp_weighted(
    pairs: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    src: str = "u",
    dst: str = "v",
    max_hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Single-source shortest WEIGHTED path, bounded at ``max_hops``
    edges: Bellman-Ford relaxation, the weighted sibling of
    :func:`bfs_hops`. Returns (node, dist) where ``dist`` is the minimum
    total edge weight over paths of <= max_hops edges from the seed set
    (seeds get 0). Weights must be non-negative integers (exact bigint
    arithmetic end-to-end — hash-comparable, no float accumulation).

    Round h relaxes every edge out of the CURRENT distance table and
    min-folds: dist_h(v) = min(dist_{h-1}(v), min over edges (u,v) of
    dist_{h-1}(u) + w) — after h rounds the table holds exact
    <=h-edge shortest distances, the textbook Bellman-Ford invariant
    (and the bounded-hop semantics make the result well-defined even
    with cycles, no negative-cycle caveats). Each round is one
    join + groupBy-min over (node, dist) rows; rounds eagerly
    localCheckpoint inside a ``sized_shuffle`` window, and an
    Observation on the changed-row count exits early once no distance
    improves (diameter < max_hops costs no extra rounds)."""

    def loop(edges: DataFrame, _n: int) -> DataFrame:
        dist = (
            sources.select(F.col(sources.columns[0]).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("bigint"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_hops):
            relaxed = (
                dist.join(edges, dist.node == edges.eu)
                .select(
                    F.col("ev").alias("node"),
                    (F.col("dist") + F.col("ew")).alias("dist"),
                )
            )
            obs = Observation()
            nxt = (
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            # convergence: a round that adds no node AND improves no
            # distance leaves the (node, dist) multiset identical —
            # detect via an exact anti-join count only when the node
            # count stalled (cheap: both frames are checkpointed).
            if (obs.get["n"] or 0) == dist.count():
                changed = nxt.join(dist, ["node", "dist"], "left_anti").count()
                if changed == 0:
                    return nxt
            dist = nxt
        return dist

    ew = F.col(weight_col).cast("bigint").alias("ew")
    edges = _both_ways(pairs, src, dst, ("eu", "ev"), (ew,), directed)
    return _iterate(
        edges.distinct(),
        loop,
        lambda rows, seeds: _sssp_twin(rows, seeds, max_hops),
        (("node", None, True), ("dist", LongType(), True)),
        sources,
    )


def _sssp_twin(rows, seeds: set, max_hops: int) -> list:
    dist = dict.fromkeys(seeds, 0)
    for _ in range(max_hops):
        # synchronous Bellman-Ford round: relax every edge against the
        # PREVIOUS table, then min-fold — exactly the distributed
        # union+groupBy-min recurrence
        nxt = dict(dist)
        for u, v, w in rows:
            if u in dist:
                c = dist[u] + w
                if v not in nxt or c < nxt[v]:
                    nxt[v] = c
        if nxt == dist:
            break
        dist = nxt
    return list(dist.items())


def hits_bipartite(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities over a bipartite edge list (src side =
    hubs, dst side = authorities) in EXACT integer arithmetic — the
    companion eigenvector ranking to :func:`pagerank`: an authority is
    good because good hubs point at it, a hub is good because it points
    at good authorities (Kleinberg 1999). On customer→supplier purchase
    edges: authoritative suppliers serve broadly-connected customers.

    The float HITS normalizes by the L2 norm each half-step (not
    engine-reproducible: sqrt + order-dependent sums); here every
    half-step renormalizes by integer division against the CURRENT MAX
    (``x * 10^6 // max(x)``) — max is exact, division floors
    identically everywhere, and the invariant max-score == 10^6
    bounds the bigints, so any SQL engine unrolling the same recurrence
    reproduces the scores bit-for-bit. Returns (node, side, score)
    with side ∈ {'hub', 'authority'}, score in [0, 10^6].

    Scale shape: each half-step is one edges⋈scores join (shuffle on
    the joined side's key) + a grouped sum + a 1-row max broadcast —
    the power-iteration plan; hub-node skew is AQE's skew-join case.
    """
    if iterations < 1:
        raise ValueError(
            f"hits_bipartite: iterations={iterations} must be >= 1"
        )
    e = edges.select(F.col(src).alias("eu"), F.col(dst).alias("ev")).distinct()
    e = e.localCheckpoint(eager=True)
    hubs = e.select("eu").distinct().withColumn(
        "h", F.lit(10 ** 6).cast("bigint")
    )
    auth = None
    for _ in range(iterations):
        raw_a = (
            e.join(hubs, "eu")
            .groupBy("ev")
            .agg(F.sum("h").alias("ra"))
        )
        # checkpoint each normalized half-step: the raw frame is
        # referenced TWICE (its own max + the renormalize join), so an
        # unbroken lineage doubles the plan per half-step — 134 static
        # exchanges after 2 iterations; checkpointed, the plan is the
        # constant-size power-iteration shape (scores are node-sized,
        # the cheap side to materialize)
        raw_a = raw_a.localCheckpoint(eager=True)
        mx_a = raw_a.agg(F.max("ra").alias("__m"))
        auth = raw_a.join(F.broadcast(mx_a)).select(
            "ev", F.expr("ra * 1000000 div __m").alias("a")
        ).localCheckpoint(eager=True)
        raw_h = (
            e.join(auth, "ev")
            .groupBy("eu")
            .agg(F.sum("a").alias("rh"))
        )
        raw_h = raw_h.localCheckpoint(eager=True)
        mx_h = raw_h.agg(F.max("rh").alias("__m"))
        hubs = raw_h.join(F.broadcast(mx_h)).select(
            "eu", F.expr("rh * 1000000 div __m").alias("h")
        ).localCheckpoint(eager=True)
    return hubs.select(
        F.col("eu").alias("node"), F.lit("hub").alias("side"),
        F.col("h").alias("score"),
    ).unionByName(
        auth.select(
            F.col("ev").alias("node"), F.lit("authority").alias("side"),
            F.col("a").alias("score"),
        )
    )


def label_propagation(
    pairs: DataFrame,
    rounds: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan et al. 2007) over an undirected simple graph, run for a
    FIXED number of rounds with a total deterministic tie-break — the
    cheap community detector that needs no modularity objective and no
    parameter beyond the round count (the classic pre-clustering step
    the reference's downstream grouping implies at scale).

    Free-running LPA is nondeterministic (asynchronous updates, random
    tie-breaks); this variant is the reproducible one: every node
    updates SIMULTANEOUSLY each round to the most frequent label among
    its neighbors, ties broken by (count DESC, label ASC) — a total
    order, so round k's labeling is a pure function of round k-1's and
    any engine unrolling the same recurrence reproduces it bit-for-bit
    (the hits_bipartite certification discipline). Labels start as the
    node's own id. Returns (node, community) after ``rounds`` rounds;
    isolated nodes never appear (no neighbors => no vote).

    Scale shape: each round is one edges⋈labels shuffle join, one
    (node, label) count aggregation, and one per-node top-1 window —
    all key-partitioned, no driver state; rounds eagerly
    localCheckpoint (lineage truncation, the connected_components
    discipline) inside a ``sized_shuffle`` window sized from the edge
    count. Hub-node skew is AQE's skew-join case; the frame never
    grows, so round 1 bounds the cost.
    """
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds={rounds} must be >= 1")

    def loop(edges: DataFrame, _n: int) -> DataFrame:
        labels = edges.select(F.col("eu").alias("node")).distinct().withColumn(
            "lbl", F.col("node")
        )
        top1 = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("lbl").asc()
        )
        for _ in range(rounds):
            votes = (
                edges.join(
                    labels.withColumnRenamed("node", "ev"), "ev"
                )
                .groupBy(F.col("eu").alias("node"), "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = (
                votes.withColumn("rn", F.row_number().over(top1))
                .where(F.col("rn") == 1)
                .select("node", "lbl")
                .localCheckpoint(eager=True)
            )
        return labels.select("node", F.col("lbl").alias("community"))

    return _iterate(
        _both_ways(_simple_edges(pairs, src, dst), names=("eu", "ev")),
        loop,
        lambda rows: _lpa_twin(rows, rounds),
        (("node", None, True), ("community", None, True)),
    )


def _lpa_twin(rows, rounds: int) -> list:
    labels = {u: u for u, _ in rows}
    for _ in range(rounds):
        votes: dict = {}
        for eu, ev in rows:
            cnt = votes.setdefault(eu, {})
            lb = labels[ev]
            cnt[lb] = cnt.get(lb, 0) + 1
        labels = {
            node: min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for node, cnt in votes.items()
        }
    return list(labels.items())


def random_walks(
    pairs: DataFrame,
    walk_len: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic random-walk corpus over an undirected simple graph
    — the DeepWalk/node2vec sentence generator (walks become token
    sequences for embedding training), made REPLAYABLE: step s of the
    walk started at node ``start`` standing at ``cur`` moves to the
    neighbor whose (v-sorted) adjacency rank is
    md5("start:s:cur")'s leading 4 hex digits mod degree(cur) —
    a pure function of (start, s, cur), so any engine unrolling the
    same recurrence reproduces every walk bit-for-bit (no RNG state,
    no seed plumbing; the hash IS the seed). One walk starts at every
    non-isolated node. Returns (start, step, node) rows, step 0..walk_len.

    Scale shape: the walk table is nodes-sized and each step is ONE
    join against the ranked adjacency (shuffle on the current node
    key) — never edge-quadratic; steps eagerly localCheckpoint
    (lineage truncation). Hot-hub adjacency skew is AQE's skew-join
    case. At 100 TB the adjacency ranking is computed once and
    bucketable; walks extend in O(walk_len) rounds regardless of graph
    size."""
    if walk_len < 1:
        raise ValueError(f"random_walks: walk_len={walk_len} must be >= 1")
    sym = _both_ways(_simple_edges(pairs, src, dst), names=("eu", "ev"))
    adj = sym.select(
        "eu", "ev",
        (F.row_number().over(
            Window.partitionBy("eu").orderBy("ev")
        ) - 1).cast("bigint").alias("r"),
    )
    deg = sym.groupBy("eu").agg(F.count(F.lit(1)).alias("d"))
    adj = adj.join(deg, "eu").localCheckpoint(eager=True)
    frontier = deg.select(
        F.col("eu").alias("start"), F.col("eu").alias("cur")
    ).localCheckpoint(eager=True)
    out = frontier.select(
        "start", F.lit(0).cast("int").alias("step"),
        F.col("cur").alias("node"),
    )
    for s in range(1, walk_len + 1):
        pick = F.pmod(
            _hex_int(
                F.md5(F.concat_ws(":", F.col("start"), F.lit(s), F.col("cur"))),
                1, 4,
            ),
            F.col("d"),
        )
        frontier = (
            frontier.join(adj, frontier.cur == adj.eu)
            .where(F.col("r") == pick)
            .select("start", F.col("ev").alias("cur"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            frontier.select(
                "start", F.lit(s).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "u",
    dst: str = "v",
    t_col: str = "t",
) -> DataFrame:
    """Time-respecting reachability (earliest-arrival): which nodes a
    seed set can reach through paths whose edge timestamps NEVER
    DECREASE — the semantics of information/contagion flow (a message
    can only continue along an edge that happens after it arrived),
    which plain BFS gets wrong on temporal graphs. Bounded at
    ``max_hops`` edges; edges are undirected pairs with an integer
    timestamp. Returns (node, arrival) — the minimum achievable
    arrival time over all time-respecting paths of <= max_hops edges
    (seeds arrive at 0).

    The recurrence is Bellman-Ford-shaped with a temporal guard:
    arr_h(v) = min(arr_{h-1}(v), min over edges (u,v,t) with
    t >= arr_{h-1}(u) of t) — monotone, exact bigint, so a k-round
    unrolled SQL twin replays it bit-for-bit (the sssp_weighted
    discipline plus the guard). One edges⋈arrivals join + one min-fold
    per round over a node-sized frame, eagerly checkpointed inside a
    sized-shuffle window."""
    if max_hops < 1:
        raise ValueError(
            f"temporal_reachability: max_hops={max_hops} must be >= 1"
        )

    def loop(sym: DataFrame, _n: int) -> DataFrame:
        arr = seeds.select(
            F.col(seeds.columns[0]).alias("node"),
            F.lit(0).cast("bigint").alias("arrival"),
        ).distinct().localCheckpoint(eager=True)
        for _ in range(max_hops):
            relaxed = (
                sym.join(arr.withColumnRenamed("node", "eu"), "eu")
                .where(F.col("et") >= F.col("arrival"))
                .select(F.col("ev").alias("node"), F.col("et").alias("arrival"))
            )
            arr = (
                arr.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("arrival").alias("arrival"))
                .localCheckpoint(eager=True)
            )
        return arr

    et = F.col(t_col).cast("bigint").alias("et")
    sym = _both_ways(edges, src, dst, ("eu", "ev"), (et,))
    return _iterate(sym.where(F.col("eu") != F.col("ev")), loop)


def truss_peel(
    pairs: DataFrame,
    k: int = 4,
    rounds: int = 2,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """k-truss peeling (Cohen 2008) for a FIXED number of rounds: each
    round computes every surviving edge's triangle SUPPORT (common
    neighbors within the surviving subgraph) and drops edges with
    support < k-2 — the cohesion filter one notch stronger than
    triangle counting and the standard community-core extractor.

    Free-running truss decomposition iterates to a fixpoint; this is
    the REPRODUCIBLE fixed-round variant (the label_propagation /
    hits_bipartite certification discipline): round r's edge set is a
    pure function of round r-1's, so any engine unrolling the same
    recurrence replays it bit-for-bit, and the certified semantics is
    the ``rounds``-round peel state. Returns (u, v, support) for the
    surviving edges with their support in the FINAL surviving subgraph
    (0 for triangle-free survivors when rounds under-peels — visible,
    not hidden).

    Scale shape: support is the wedge join — edges ⋈ adjacency on u
    then an equi-join on (v, w) — i.e. 2 key-partitioned shuffles + one
    count per round, never an all-pairs pass; per-round frames eagerly
    localCheckpoint inside a ``sized_shuffle`` window (lineage
    truncation + shuffle sizing from the measured edge count, the
    connected_components discipline). The frame only shrinks, so round
    1 bounds the cost; hub-vertex fan-out is AQE's skew-join case and
    the degree-histogram diagnostic picks the ceiling mitigation when
    a graph needs one.
    """
    if rounds < 1:
        raise ValueError(f"truss_peel: rounds={rounds} must be >= 1")
    if k < 3:
        raise ValueError(f"truss_peel: k={k} must be >= 3")

    def support(e: DataFrame) -> DataFrame:
        return (
            e.join(_both_ways(e, names=("u", "w")), "u")
            .join(_both_ways(e, names=("v", "w")), ["v", "w"])
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("sup"))
        )

    def loop(e: DataFrame, _n: int) -> DataFrame:
        for _ in range(rounds):
            e = (
                e.join(support(e), ["u", "v"], "left")
                .where(F.coalesce(F.col("sup"), F.lit(0)) >= k - 2)
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
        return e.join(support(e), ["u", "v"], "left").select(
            "u", "v",
            F.coalesce(F.col("sup"), F.lit(0)).cast("bigint")
            .alias("support"),
        )

    return _iterate(
        _simple_edges(pairs, src, dst),
        loop,
        lambda rows: _truss_twin(rows, k, rounds),
        (("u", None, True), ("v", None, True), ("support", LongType(), False)),
    )


def _truss_twin(rows, k: int, rounds: int) -> list:
    es = {(u, v) for u, v in rows}  # canonical u < v

    def support(edge_set):
        adj: dict = {}
        for u, v in edge_set:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        return {
            (u, v): len(adj[u] & adj[v]) for (u, v) in edge_set
        }

    for _ in range(rounds):
        s = support(es)
        es = {edge for edge in es if s[edge] >= k - 2}
    return [(u, v, s) for (u, v), s in support(es).items()]
