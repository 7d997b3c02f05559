"""Graph pattern queries over the node/edge tables (the serving-side
analog of the reference's Cypher surface).

The reference serves its KG from Neo4j: label-filtered path patterns with
property equality (``MATCH (a:L {p: v})-[:rel]->(b:M) RETURN …`` — the
shapes its GraphRAG chain generates, ``LegalGraphRag.ipynb`` cells
1449-1590) and schema summaries (``get_label_connections``,
``kg_creator/src/utils.py:30-36``).  This module expresses those shapes
over the engine's ``nodes(node_key, head_label, labels, props)`` /
``edges(src_key, relationship, dst_key, …)`` tables as plain DataFrame
plans Catalyst can optimize:

- a chain pattern is a sequence of edge joins with label/property filters
  sitting scan-side (evaluated before any join; the relationship equality
  is a pushable scalar and reaches the parquet reader's PushedFilters —
  plan-pinned — while the label test is an OR over the labels array and
  the property test a map access, which parquet cannot push: at 100 TB
  write the node table with ``GraphWriter(node_partition_col=
  'head_label')`` and query with ``label_scope='head'`` so the label
  restriction becomes a partition PRUNE — implemented and plan-pinned in
  test_plans);
- the node table is usually the small side at query time — hint-broadcast
  per hop when it fits;
- ``k_hop`` is frontier expansion with a distinct per round — k bounded
  joins, never an unbounded traversal.

No NL→query layer is included (the reference's is an LLM call — SURVEY §7
non-goal); these are the deterministic primitives such a layer targets.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _node_side(
    nodes: DataFrame,
    binding: str,
    label: Optional[str],
    props: Optional[Dict[str, str]],
    label_scope: str,
) -> DataFrame:
    n = nodes
    if label is not None:
        if label_scope == "head":
            # pure head_label equality: over a head_label-PARTITIONED node
            # table (GraphWriter(node_partition_col='head_label')) this is
            # a partition PRUNE — the scan's PartitionFilters name the
            # label and untouched label directories are never read
            # (plan-pinned in test_plans).  The disjunction below cannot
            # prune (its array_contains arm is not a partition predicate).
            n = n.filter(F.col("head_label") == label)
        else:
            # any label in the node's label set matches (Cypher `a:Label`
            # semantics over multi-labeled nodes)
            n = n.filter(
                (F.col("head_label") == label)
                | F.array_contains(F.col("labels"), label)
            )
    if props:
        for k, v in props.items():
            n = n.filter(F.element_at(F.col("props"), F.lit(k)) == v)
    return n.select(F.col("node_key").alias(f"{binding}_key"))


def _parse_rel_spec(rel: Optional[str]) -> Tuple[Optional[str], int, int]:
    """Cypher-shaped relationship spec -> (rel_or_None, min_hops,
    max_hops).  ``'rel'`` = one hop; ``'rel*1..3'`` / ``'*2..4'`` /
    ``'rel*..3'`` (min defaults 1) / ``'rel*2'`` (exactly 2) are the
    ``-[:rel*min..max]->`` variable-length forms; bare ``'*'`` is
    rejected (an unbounded traversal is never the budgeted shape —
    ``k_hop`` is the explicit frontier tool)."""
    if rel is None or "*" not in rel:
        return rel, 1, 1
    name, _, span = rel.partition("*")
    if span == "":
        raise ValueError(
            f"unbounded variable-length hop {rel!r}: give an explicit "
            "bound ('rel*1..k') — use k_hop for open frontier expansion"
        )
    lo, dots, hi = span.partition("..")
    try:
        min_h = int(lo) if lo else 1
        max_h = int(hi) if dots else min_h
    except ValueError:
        raise ValueError(f"malformed variable-length hop spec {rel!r}")
    if min_h < 1 or max_h < min_h:
        raise ValueError(
            f"variable-length bounds must satisfy 1 <= min <= max: {rel!r}"
        )
    return (name or None), min_h, max_h


def _var_length_pairs(
    edges: DataFrame, rel: Optional[str], min_h: int, max_h: int,
    origins: DataFrame,
) -> DataFrame:
    """Distinct (origin, dst) endpoint pairs connected by a path of
    ``min_h..max_h`` edges of ``rel`` starting from ``origins`` (one
    column).  Walk semantics (the unrolled join-power reachability —
    exactly what the oracle's UNION CTE replays); per-level DISTINCT
    bounds every frontier by |origins| x |nodes| so cycles terminate, and
    each level is ONE eager checkpoint (the k_hop discipline) so the
    emptiness probe never recomputes the chain."""
    e = edges
    if rel is not None:
        e = e.filter(F.col("relationship") == rel)
    e = e.select(F.col("src_key").alias("u"), F.col("dst_key").alias("v"))
    frontier = origins.select(
        F.col(origins.columns[0]).alias("origin"),
        F.col(origins.columns[0]).alias("cur"),
    ).distinct()
    acc = None
    for step in range(1, max_h + 1):
        frontier = (
            frontier.join(e, frontier["cur"] == e["u"])
            .select("origin", F.col("v").alias("cur"))
            .distinct()
            .localCheckpoint()
        )
        if not frontier.take(1):
            break
        if step >= min_h:
            acc = frontier if acc is None else acc.unionByName(frontier)
    if acc is None:
        # no path long enough anywhere: empty (origin, cur) frame
        return frontier.limit(0)
    return acc.distinct()


def match_chain(
    nodes: DataFrame,
    edges: DataFrame,
    chain: Sequence[Tuple[Optional[str], Optional[str], Optional[str]]],
    where: Optional[Dict[int, Dict[str, str]]] = None,
    label_scope: str = "any",
) -> DataFrame:
    """``MATCH (a0:L0)-[:r0]->(a1:L1)-[:r1]->(a2:L2)…`` as one join plan.

    ``chain``: one ``(src_label, relationship, dst_label)`` triple per hop;
    consecutive hops share the intermediate binding (hop i's dst IS hop
    i+1's src — pass consistent labels or None for "any").  ``where``:
    property-equality filters per binding index (``{0: {"hasCaseID":
    "…"}}`` — the Cypher ``{prop: value}`` map).  Returns one row per
    binding of the pattern with columns ``n{i}_key`` (join the node table
    on them for labels and properties).

    A hop's relationship may be a VARIABLE-LENGTH spec — ``'cited*1..3'``
    / ``'*2..4'`` / ``'rel*2'`` — the Cypher ``-[:rel*min..max]->``
    pattern (notebook QA cells): the two bindings it connects are then
    DISTINCT endpoint pairs joined by a path of min..max same-spec edges
    (walk semantics, bounded expansion with one checkpoint per level;
    intermediate nodes are unlabeled and unbound, per Cypher).

    Each hop is edges filtered on its relationship joined to the
    label/property-filtered node table; node filters sit on the scan side
    of the joins, so Catalyst pushes them into the parquet read.

    ``label_scope``: 'any' (Cypher semantics — head OR secondary label
    matches) or 'head' (head_label equality only; over a node table
    written with ``GraphWriter(node_partition_col='head_label')`` every
    label restriction becomes a partition prune — the 100x read path)."""
    where = where or {}
    out = _node_side(
        nodes, "n0", chain[0][0], where.get(0), label_scope
    )
    for i, (_, rel, dst_label) in enumerate(chain):
        rel_name, min_h, max_h = _parse_rel_spec(rel)
        if (min_h, max_h) == (1, 1):
            e = edges
            if rel_name is not None:
                e = e.filter(F.col("relationship") == rel_name)
            e = e.select(
                F.col("src_key").alias(f"n{i}_key"),
                F.col("dst_key").alias(f"n{i + 1}_key"),
            )
            out = out.join(e, f"n{i}_key")
        else:
            pairs = _var_length_pairs(
                edges, rel_name, min_h, max_h,
                out.select(f"n{i}_key").distinct(),
            )
            out = out.join(
                pairs.select(
                    F.col("origin").alias(f"n{i}_key"),
                    F.col("cur").alias(f"n{i + 1}_key"),
                ),
                f"n{i}_key",
            )
        dst = _node_side(
            nodes, f"n{i + 1}", dst_label, where.get(i + 1), label_scope
        )
        out = out.join(dst, f"n{i + 1}_key")
    return out


# hops k_hop walks
K_HOPS = 2


def k_hop(edges: DataFrame, start_keys: DataFrame) -> DataFrame:
    """Nodes within K_HOPS hops of ``start_keys`` (a one-column frame
    ``node_key``) along INCOMING edges — the nodes with a path of at most
    K_HOPS edges into a start node: (node_key, hops) with hops = shortest
    observed distance in [0, K_HOPS].  Frontier expansion — K_HOPS bounded
    joins with a min-aggregate per round, never an unbounded traversal."""
    adj = edges.select(
        F.col("dst_key").alias("u"), F.col("src_key").alias("v")
    ).distinct()
    seen = start_keys.select(
        F.col(start_keys.columns[0]).alias("node_key"),
        F.lit(0).alias("hops"),
    )
    frontier = seen
    for step in range(1, K_HOPS + 1):
        nxt = (
            frontier.join(adj, frontier["node_key"] == adj["u"])
            .select(F.col("v").alias("node_key"), F.lit(step).alias("hops"))
            .distinct()
        )
        # keep only genuinely new nodes in the frontier (shortest distance);
        # eager checkpoint bounds the per-round lineage and makes the
        # emptiness probe cheap
        frontier = nxt.join(
            seen.select("node_key"), "node_key", "left_anti"
        ).localCheckpoint()
        if not frontier.take(1):
            break
        seen = seen.unionByName(frontier)
    return seen


# PageRank's damping factor and its fixed iteration count
DAMPING = 0.85
PAGERANK_ITERATIONS = 3


def pagerank(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Fixed-iteration PageRank over the edge table and a one-column
    vertex frame -> (node_key, rank).

    The reference serves its KG from Neo4j, where centrality ranking is
    the standard Graph-Data-Science call beside the Cypher surface this
    module mirrors (``match_chain``/``k_hop``); this is the deterministic
    DataFrame equivalent.  Full formulation with dangling-mass
    redistribution::

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + dangling/N)

    with ``d = DAMPING``, so ``sum(rank) == 1`` at every iteration (sink
    nodes teleport their mass uniformly rather than leaking it).

    Scale shape: each iteration is two key-shuffles (rank⋈edges on the
    source key, then a map-side-combinable sum by destination) plus a
    left join back to the vertex set — no driver-side state beyond the
    scalar N, and the dangling mass rides as a LAZY 1-row aggregate
    broadcast-cross-joined into the plan, so each round is exactly ONE
    action (the eager ``localCheckpoint`` that also bounds lineage, the
    CC discipline).  PAGERANK_ITERATIONS are fixed, never
    convergence-polled: at 10^12 edges a fixed small k (3-10) is the
    budgeted form."""
    fwd = edges.select(
        F.col("src_key").alias("u"), F.col("dst_key").alias("v")
    )
    endpoints = (
        fwd.select(F.col("u").alias("node_key"))
        .unionByName(fwd.select(F.col("v").alias("node_key")))
        .distinct()
    )
    # A vertex frame that omits edge endpoints would silently leak rank
    # mass (contributions joined to missing nodes drop; out-edges from
    # missing sources contribute nothing), breaking the sum(rank)==1
    # invariant — so the endpoint set is always unioned in.
    verts = (
        vertices.select(F.col(vertices.columns[0]).alias("node_key"))
        .unionByName(endpoints)
        .distinct()
        .localCheckpoint()
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    outdeg = fwd.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for _ in range(PAGERANK_ITERATIONS):
        rated = ranks.join(
            outdeg, ranks["node_key"] == outdeg["u"], "left"
        ).select("node_key", "rank", "deg")
        # sink mass: one lazy scalar row, broadcast into every partition —
        # no extra action, no driver round-trip
        dangling = rated.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling")
        )
        contribs = (
            rated.filter(F.col("deg").isNotNull())
            .join(fwd, rated["node_key"] == fwd["u"])
            .groupBy("v")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            verts.join(contribs, verts["node_key"] == contribs["v"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node_key",
                (
                    F.lit((1.0 - DAMPING) / n)
                    + F.lit(DAMPING)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dangling") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def label_connections(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Schema summary — DISTINCT (from_label, rel_type, to_label), the
    reference's ``get_label_connections`` (utils.py:30-36): what a
    query-planning layer (or a human) reads before writing patterns."""
    s = nodes.select(
        F.col("node_key").alias("src_key"),
        F.col("head_label").alias("from_label"),
    )
    o = nodes.select(
        F.col("node_key").alias("dst_key"),
        F.col("head_label").alias("to_label"),
    )
    return (
        edges.select("src_key", "relationship", "dst_key")
        .join(s, "src_key")
        .join(o, "dst_key")
        .select(
            "from_label", F.col("relationship").alias("rel_type"), "to_label"
        )
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the UNDIRECTED simple graph of the
    edge table -> (node_key, n_triangles), one row for every vertex that
    appears as an endpoint (0 when it closes no triangle).

    The deterministic analog of Neo4j GDS ``triangleCount`` (the standard
    clustering-coefficient / community primitive beside the centrality
    call ``pagerank`` mirrors); edge direction and relationship type are
    ignored, self-loops and parallel edges collapse first.

    Scale shape — the degree-ordered orientation of Suri & Vassilvitskii
    (WWW'11) / Cohen's MapReduce formulation, not the naive three-way
    edge self-join: every edge is oriented from its (degree, key)-smaller
    endpoint to the larger, so each triangle is emitted by exactly one
    apex and, decisively, the wedge join's fan-out per vertex is bounded
    by its ORIENTED out-degree, O(sqrt(m)) even for celebrity vertices —
    the skewed-degree hub that breaks the naive plan contributes wedges
    only through its low-degree neighbors.  Three key-shuffles total
    (degree groupBy, wedge self-join on the apex, closing-edge hash
    join), all equi-joins Catalyst/AQE can re-plan; no Python, no
    driver-side state."""
    deg, per = _vertex_triangles(edges)
    return (
        deg.select(F.col("k").alias("node_key"))
        .join(per, "node_key", "left")
        .select(
            "node_key",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )


def _vertex_triangles(edges: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """(degree frame ``(k, d)``, per-vertex triangle frame ``(node_key,
    n_triangles)``) — the shared pipeline behind ``triangle_count`` and
    ``clustering_coefficient``."""
    e0 = (
        edges.select(
            F.least(F.col("src_key"), F.col("dst_key")).alias("u"),
            F.greatest(F.col("src_key"), F.col("dst_key")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e0.select(F.col("u").alias("k"))
        .unionByName(e0.select(F.col("v").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("d"))
    )
    withdeg = e0.join(
        deg.select(F.col("k").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("k").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = withdeg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    # Wedges at apex a: BOTH (b, c) orderings are emitted, because the
    # closing edge is oriented by (degree, key) — exactly one ordering
    # matches it, so the equi-join needs no order predicate and each
    # triangle lands exactly once.
    wedges = (
        o.select(F.col("a"), F.col("b").alias("w1"))
        .join(o.select(F.col("a"), F.col("b").alias("w2")), "a")
        .filter(F.col("w1") != F.col("w2"))
    )
    tri = wedges.join(
        o.select(F.col("a").alias("w1"), F.col("b").alias("w2")),
        ["w1", "w2"],
    )
    per = (
        tri.select(F.explode(F.array("a", "w1", "w2")).alias("node_key"))
        .groupBy("node_key")
        .agg(F.count("*").alias("n_triangles"))
    )
    return deg, per


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex ->
    ``(node_key, degree, n_triangles, clustering)`` — Watts-Strogatz
    C(v) = 2·T(v) / (d(v)·(d(v)−1)) over the undirected simple graph,
    0.0 for degree-<2 vertices; the community-density read beside
    ``triangle_count`` (Neo4j GDS ``localClusteringCoefficient``).

    Same scale shape as ``triangle_count`` (the degree-ordered pipeline
    is shared — one extra projection, no new shuffle); ``clustering``
    rounds to 9 decimals (the bm25_adopt hash-stability convention)."""
    deg, per = _vertex_triangles(edges)
    d = F.col("d").cast("double")
    return (
        deg.join(
            per.select(F.col("node_key").alias("k"), "n_triangles"),
            "k",
            "left",
        )
        .select(
            F.col("k").alias("node_key"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("d") >= 2,
                F.round(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0)).cast("double")
                    / (d * (d - 1.0)),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


# label_propagation's fixed round count
LP_ITERATIONS = 3


def label_propagation(edges: DataFrame) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation ->
    ``(node_key, community)`` — the deterministic analog of Neo4j GDS
    ``labelPropagation`` (beside ``pagerank``/``triangle_count``/wcc in
    the serving-analytics family).

    Every vertex starts as its own label; each round, over the
    undirected simple graph, a vertex adopts the most frequent label
    among its neighbors PLUS its own current label (the self-message
    keeps isolated and balanced vertices well-defined), ties broken by
    the smallest label — so updates are a pure function of the previous
    round and the result is engine- and schedule-independent, unlike the
    asynchronous variant.  LP_ITERATIONS rounds are FIXED, never
    convergence-polled (the budgeted form at scale; communities
    stabilize in a few rounds on clustered graphs).

    Scale shape per round: one key-shuffle to count (vertex, label)
    messages (map-side combinable) and one aggregation picking
    ``min(struct(-count, label))`` — argmax-count with min-label ties as
    a single pass, no window, no second join — then one eager
    ``localCheckpoint`` (the CC/pagerank one-action-per-round
    discipline).  No Python, no driver-side state."""
    sym = (
        edges.select(F.col("src_key").alias("u"), F.col("dst_key").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(
                F.col("dst_key").alias("u"), F.col("src_key").alias("v")
            ).filter(F.col("u") != F.col("v"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("u").alias("node_key"))
        .distinct()
        .withColumn("community", F.col("node_key"))
    )
    for _ in range(LP_ITERATIONS):
        neigh = sym.join(
            labels.select(
                F.col("node_key").alias("v"), F.col("community")
            ),
            "v",
        ).select(F.col("u").alias("node_key"), "community")
        msgs = neigh.unionByName(labels)  # the self-message
        labels = (
            msgs.groupBy("node_key", "community")
            .agg(F.count("*").alias("c"))
            .groupBy("node_key")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"),
                        F.col("community").alias("l"),
                    )
                ).alias("m")
            )
            .select("node_key", F.col("m.l").alias("community"))
            .localCheckpoint()
        )
    return labels
