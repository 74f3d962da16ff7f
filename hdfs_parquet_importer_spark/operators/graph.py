"""Connected components for dedup-cluster assignment.

After pair generation (MinHash-LSH / SimHash), deduplication needs the
transitive closure: if A~B and B~C, then {A,B,C} form one cluster with
one kept representative. This is iterative min-label propagation:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated to fixpoint. Each iteration is one shuffle (join labels to
the symmetrized edge list + groupBy-min); rounds needed = graph
diameter, and near-dup clusters are small and dense, so 3-5 rounds
close real corpora. This is the simple variant of the map-reduce CC
algorithms in the literature (large-star/small-star contraction, which
converges in O(log n) rounds on adversarial graphs, reduces to the
same per-round join shape).

Scale notes: the labels DataFrame is ``localCheckpoint``-ed every
round — iterative plans otherwise grow the lineage exponentially and
re-execute every prior round at each action. Convergence is detected
with a count of changed labels (one action per round, the canonical
fixpoint test). Graphs whose symmetrized edge list has at most
``DRIVER_MAX_SYM_ROWS`` rows skip the distributed rounds: connected
components and label propagation replay them on the driver over one
bounded collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Size gate for the driver-local strategies of the iterative graph
# operators (connected_components, label_propagation), read on every
# call, in rows of the symmetrized edge list. The analogy is Spark's
# own broadcast-join selection: pick the physical strategy by measured
# input size. 2e5 symmetrized rows is a few MB collected, bounded at
# any corpus scale (the same argument as the k-row kmeans init and the
# <=256-row model collects); graphs past the gate, and every graph
# when it is 0, take the distributed loop.
DRIVER_MAX_SYM_ROWS = 200_000


def _rows_below_gate(df: DataFrame):
    """``df``'s rows as an Arrow table when it has at most
    DRIVER_MAX_SYM_ROWS rows, else None. One bounded collect both
    measures the input and fetches it; no Spark job runs when the gate
    is 0."""
    if DRIVER_MAX_SYM_ROWS <= 0:
        return None
    rows = df.limit(DRIVER_MAX_SYM_ROWS + 1).toArrow()
    return rows if rows.num_rows <= DRIVER_MAX_SYM_ROWS else None


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    the minimum node id reachable from it.

    ``edges`` is an undirected pair list (each pair once, either
    order). Deterministic: component ids are stable min-ids, not
    partition-dependent.

    Each round does the neighbor-min propagation step and then a
    pointer-jumping shortcut (label(v) <- min(label(v),
    label(label(v)))), so convergence takes ~log(diameter) rounds
    instead of diameter rounds. Every label value is itself a node id
    reachable from v — labels only ever move along edges — so the
    shortcut target's label is also reachable from v and the
    min-reachable-id invariant is preserved; the fixpoint VALUES are
    identical to plain min-propagation, only the round count changes
    (15 plain rounds vs 4 measured on the sf0.1 SemDeDup chain-shaped
    edge list).

    Raises ``ValueError`` for ``max_iter < 1`` before any Spark work,
    and ``RuntimeError`` if labels still move after ``max_iter``
    rounds.
    """
    if max_iter < 1:
        # With max_iter=0 the changed=0 initialization would read as
        # "converged" and return identity labels.
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = sym.distinct().localCheckpoint(eager=False)

    # Strategy selection by size. After LSH/banding, pair graphs are a
    # tiny decision table relative to the corpus (~5% of docs at the
    # planted rate here; hashing, banding and the pair join already
    # happened upstream). The distributed loop costs ~7 driver-
    # blocking micro-jobs per round regardless of data size (measured
    # 1.93 s / 29 jobs, 1.37 s of it driver time between jobs, for a
    # 243-edge graph at sf0.1). When the symmetrized edge list is at
    # most DRIVER_MAX_SYM_ROWS rows, _driver_cc runs the identical
    # rounds on the driver over the rows the gate collected: same
    # propagate+jump schedule, same per-round changed test, same
    # max_iter/raise contract, same labels.
    rows = _rows_below_gate(sym)
    if rows is not None:
        return _driver_cc(sym, rows, max_iter)

    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )

    changed = 0
    # range(max_iter + 1): the +1 is a VERIFICATION round — a graph
    # whose labels finish moving exactly on round max_iter is
    # converged (the extra round measures changed == 0), so only
    # movement BEYOND max_iter rounds raises.
    # One checkpoint per round: a 2-rounds-per-checkpoint unroll was
    # measured SLOWER (split_leakage_audit 2.63 -> 3.54 s,
    # dedup_cluster_canonical 4.46 -> 5.21 s same-window). Labels feed
    # two joins per leg and l1 feeds the jump self-join, so an
    # un-checkpointed first leg re-executes up to 4x inside the second.
    for _ in range(max_iter + 1):
        # Candidate label for each node: the min label among neighbors.
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        l1 = labels.join(
            neighbor_min, labels.node == neighbor_min.u, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nmin", F.col("label"))
            ).alias("label"),
            F.col("label").alias("_prev"),
        )
        # Pointer jump: follow the current label one hop.
        hop = l1.select(
            F.col("node").alias("_ln"), F.col("label").alias("_ll")
        )
        new_labels = (
            l1.join(hop, l1.label == hop._ln, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("_ll", F.col("label"))
                ).alias("label"),
                "_prev",
            )
            .withColumn("_changed", F.col("label") < F.col("_prev"))
            .drop("_prev")
        )
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed:
        # Exhausting max_iter mid-propagation returns SPLINTERED
        # components (one true cluster reported as several) — for a
        # dedup consumer that silently keeps duplicate copies. Fail
        # loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still moving); raise "
            "max_iter"
        )
    return labels.select("node", F.col("label").alias("component"))


def _driver_cc(sym: DataFrame, rows, max_iter: int) -> DataFrame:
    """Driver-local replay of :func:`connected_components`' exact
    round schedule over ``rows``, the Arrow table of ``sym`` collected
    by the size gate: synchronous neighbor-min
    propagation, then the pointer jump over the SAME round's
    post-propagation labels, changed = (label < round-start label),
    break at changed == 0, raise past ``max_iter`` — so convergence
    behavior (including the extra verification round) is
    indistinguishable from the distributed loop, and the labeling is
    the identical min-reachable-id fixpoint."""
    nbrs: dict = {}
    for u, v in zip(
        rows.column("u").to_pylist(), rows.column("v").to_pylist()
    ):
        nbrs.setdefault(u, []).append(v)
    labels = {n: n for n in nbrs}
    changed = 0
    for _ in range(max_iter + 1):
        l1 = {}
        for n, lab in labels.items():
            nm = min(labels[v] for v in nbrs[n])
            l1[n] = nm if nm < lab else lab
        new = {}
        for n, lab in l1.items():
            ll = l1.get(lab, lab)
            new[n] = ll if ll < lab else lab
        changed = sum(1 for n in new if new[n] < labels[n])
        labels = new
        if changed == 0:
            break
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still moving); raise "
            "max_iter"
        )
    from pyspark.sql.types import StructField, StructType

    # The id type is sym's: the union of (src, dst) with (dst, src)
    # widens mixed id types (int src, long dst -> long), exactly the
    # type the distributed loop's labels carry.
    dt = sym.schema["u"].dataType
    schema = StructType(
        [StructField("node", dt), StructField("component", dt)]
    )
    return sym.sparkSession.createDataFrame(
        list(labels.items()), schema
    )


def grouped_connected_components(
    edges: DataFrame,
    group_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components when components CANNOT span values of
    ``group_col`` by construction (e.g. SemDeDup cluster buckets,
    where every candidate pair is generated within one cluster).

    The global iterative fixpoint is then unnecessary: one shuffle on
    ``group_col`` and an Arrow-batched union-find per group replaces
    diameter-many join rounds. Component ids are min-node-per-group
    (union always attaches the larger root under the smaller), so the
    labeling is identical to ``connected_components`` run on the same
    edges. Scale contract: one group's edge list must fit in one task
    — true when the grouping is a real cluster assignment (bounded
    cluster size); for unbounded groups use :func:`connected_components`.
    """
    import pandas as pd

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pdf[src], pdf[dst]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted(parent)
        return pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return edges.groupBy(group_col).applyInPandas(
        uf, schema="node long, component long"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """Weighted PageRank with uniform dangling-mass redistribution,
    run for a FIXED ``n_iter`` power iterations (no convergence
    action — an oracle can unroll the identical iterations):

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u) * w(u,v)/out_w(u)
                               + dangling_mass / N)

    Per-iteration cost is ONE equi-join of the rank vector to the
    normalized edge list plus a groupBy-sum on the destination — the
    standard distributed formulation. The dangling mass rides MASS
    CONSERVATION instead of a second pass over the rank vector:
    PageRank keeps total rank at exactly 1, and each source's
    outgoing probabilities sum to 1, so

        dangling_mass = 1 - SUM(contributions)

    — a 1-row aggregate over the (in-degree-bounded) contribution
    table, not an anti-join over ranks. That makes the contribution
    table the ONLY per-iteration state: it is checkpointed once per
    iteration (tiny — one row per in-linked node) and everything else
    derives lazily at constant plan depth. Every scalar (node count,
    conserved dangling mass) reaches the plan as a broadcast 1-row
    aggregate, never a ``collect``.
    """
    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        (F.col(weight) if weight else F.lit(1.0)).cast("double").alias("_w"),
    )
    # Materialize the (possibly expensive) upstream edge pipeline
    # ONCE; nodes/out-weights/normalized edges below all derive from
    # this table, so each of their checkpoint jobs reads the cached
    # edge rows instead of re-running the pipeline.
    e = e.localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    en = e.join(outw, "_src").select(
        "_src", "_dst", (F.col("_w") / F.col("_ow")).alias("_p")
    )
    # Spark does not dedupe common subplans: every iteration references
    # nodes/en, so the lazy form would re-derive the edge list once per
    # reference. Materialize the loop invariants once — "pre-partition
    # the edge list and keep it", the standard PageRank layout. en is
    # hashed by _src once, so no iteration's rank join shuffles the
    # edge side again, and contrib's key is renamed to `node` so the
    # rank-update join reuses the hash(node)/hash(_dst) partitionings
    # both sides already carry (measured 3.46 -> 2.85 s on the
    # 5-iteration sf0.1 query, value-identical output).
    nodes = nodes.localCheckpoint(eager=False)
    en = en.repartition("_src").localCheckpoint(eager=False)

    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(n_iter):
        # The only per-iteration job: one shuffle join + partial agg,
        # one row per in-linked node. ranks below derives from THIS
        # table lazily, so plan depth stays constant without ever
        # materializing the rank vector.
        contrib = (
            ranks.join(en, ranks.node == en._src)
            .groupBy("_dst")
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_contrib"))
            .withColumnRenamed("_dst", "node")
        ).localCheckpoint(eager=False)
        # Mass conservation: sum(r) == 1 every iteration and each
        # source's outgoing p sums to 1, so the rank mass that did NOT
        # arrive as a contribution is exactly the dangling mass.
        dangling = contrib.agg(
            (F.lit(1.0) - F.coalesce(F.sum("_contrib"), F.lit(0.0))).alias(
                "_dmass"
            )
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping
                    * (
                        F.coalesce("_contrib", F.lit(0.0))
                        + F.col("_dmass") / F.col("_n")
                    )
                ).alias("rank"),
            )
        )
    return ranks


def triangles(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    deg: DataFrame | None = None,
) -> DataFrame:
    """One row per triangle of an undirected simple graph — columns
    ``(a, b, c)`` in degree-order — via the degree-ordered
    edge-iterator (Suri & Vassilvitskii's distributed formulation).

    ``edges`` is one row per undirected edge, endpoints in either
    order, no duplicates/self-loops. Every step is an equi-join:

    1. degrees: unionAll both endpoints + groupBy;
    2. orient each edge from the (degree, node)-smaller endpoint to
       the larger — a TOTAL order, so each undirected edge yields one
       directed edge and each triangle exactly one wedge+closure;
    3. wedges: self-equi-join of oriented edges on the common source,
       (deg, node)-ordering the two tips dedups {b,c} / {c,b};
    4. closure: one left-semi equi-join of wedge tips against the
       oriented edge set.

    Orientation caps out-degree at O(sqrt(m)), so wedge volume is
    O(m^1.5) worst case — the bound that survives star nodes (a
    celebrity with 1e7 followers contributes ZERO wedges at its own
    key; its triangles are counted at its lower-degree neighbors).

    Lazy: callers aggregate (count, per-node rollups) or join the
    triangle rows onward. ``deg`` (columns node, deg) lets a caller
    that already aggregated degrees (e.g. for a wedge denominator)
    share ONE degree pass instead of shuffling the edge list twice.
    """
    return triangles_of_oriented(oriented_edges(edges, src, dst, deg))


def oriented_edges(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    deg: DataFrame | None = None,
) -> DataFrame:
    """Degree-ordered orientation ``(a, b, deg_b)`` of an undirected
    edge list — step 2 of :func:`triangles`, exposed separately so a
    caller can materialize it ONCE: :func:`triangles_of_oriented`
    reads it three times (both wedge legs + the closure semi-join),
    and without a checkpoint Catalyst re-executes the two degree
    joins per consumer (the sf0.1 plan held the identical 4-exchange
    subtree three times)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if deg is None:
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ed = e.join(du, "u").join(dv, "v")
    fwd = F.struct("deg_u", "u") < F.struct("deg_v", "v")
    return ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_b"),
    )


def triangles_of_oriented(oriented: DataFrame) -> DataFrame:
    """Wedge + closure legs of :func:`triangles` over a precomputed
    ``(a, b, deg_b)`` orientation (see :func:`oriented_edges`)."""
    e1 = oriented.select("a", "b", "deg_b")
    e2 = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("deg_b").alias("deg_c")
    )
    wedges = e1.join(e2, "a").filter(
        F.struct("deg_b", "b") < F.struct("deg_c", "c")
    )
    closed = wedges.join(
        oriented.select(F.col("a").alias("b"), F.col("b").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    return closed.select("a", "b", "c")


def label_propagation(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list (each pair once, either order): every node
    starts as its own label, and each round EVERY node simultaneously
    adopts the most frequent label among its neighbors (count DESC,
    label ASC tiebreak — deterministic, so all rounds are
    bit-reproducible; a node's own label does not vote). Returns
    (node, label) after ``rounds``.

    Scale: each round is one edge-to-label equi-join, a (node, label)
    partial-agg count, and a per-node top-1 taken as a struct-MIN
    aggregate over (-cnt, label) — lexicographic min = count DESC then
    label ASC, the same deterministic winner as a sorted window but
    with map-side partial aggregation and no per-partition sort.

    Strategy by size, as in :func:`connected_components`: when the
    symmetrized neighbor list (both directions of every edge) has at
    most DRIVER_MAX_SYM_ROWS rows, the rows the gate collected are
    replayed on the driver (:func:`_driver_lpa`, the same rounds in
    numpy) and no round runs a Spark job. Past the gate the rounds run
    distributed: the label state is referenced exactly ONCE per round
    (the message join), so the unrolled lineage grows LINEARLY in
    ``rounds`` (unlike CC and pagerank, whose per-round state is read
    twice and would double the plan per un-checkpointed round) and the
    whole loop is one lazy plan: one driver round-trip instead of
    ``rounds`` blocking localCheckpoint materializations. All
    aggregates are integer counts and struct-MIN, so the values are
    partitioning-independent and both strategies return the same
    labels; the distributed result is checkpointed once, at the end,
    for consumers that read it more than once.
    """
    nbr = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nb")
    ).unionAll(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nb"))
    )
    rows = _rows_below_gate(nbr)
    if rows is not None:
        return _driver_lpa(nbr, rows, rounds)
    # Loop-invariant, read once per round plus once for the initial
    # labels: without materialization the upstream EDGES pipeline
    # (often itself a banded self-join) re-executes ~2x per round —
    # the same reason connected_components checkpoints `sym` and
    # pagerank its edge table. Pre-partitioned by the join key ONCE,
    # so no round ever shuffles the edge side again (two operations
    # keyed the same way share one exchange).
    nbr = nbr.repartition("nb").localCheckpoint(eager=False)
    lbl = (
        nbr.select("node")
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(int(rounds)):
        msgs = nbr.join(
            lbl.withColumnRenamed("node", "nb"), "nb"
        ).select("node", "label")
        lbl = (
            # ONE exchange per round instead of three — hash by
            # `node` once; HashPartitioning(node) satisfies the
            # clustered distribution of BOTH downstream aggregates
            # (node is a prefix subset of (node, label)), so neither
            # groupBy re-shuffles. Measured 2x on the 4-round loop at
            # sf0.1 (6.2 -> 3.1 s); bit-identical output (hash
            # partitioning moves whole groups, and the struct-MIN
            # winner is order-free).
            msgs.repartition("node")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            # MIN over (-cnt, label) = count DESC then label ASC —
            # negating the COUNT (always numeric) instead of the
            # label keeps the tiebreak valid for any orderable id
            # type (a negated string label would crash the cast).
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"), F.col("label")
                    )
                ).alias("top")
            )
            .select("node", F.col("top.label").alias("label"))
        )
    return lbl.localCheckpoint(eager=False)


def _driver_lpa(nbr: DataFrame, rows, rounds: int) -> DataFrame:
    """Driver-local replay of :func:`label_propagation`'s rounds over
    ``rows``, the Arrow table of ``nbr`` (node, nb) collected by the
    size gate. Ids are ranked once in Arrow's sort order (Spark's for
    integers and strings), so comparing ranks compares ids. Each round
    is synchronous and counts every (node, nb) row as one vote for
    nb's label, exactly the distributed round's message join: the
    winner is count DESC then label ASC, a node's own label votes only
    through a self-loop row, a null nb joins no label, and a node that
    received no vote leaves the state, as its group does in the
    distributed aggregate."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = (
        pa.chunked_array(
            rows.column("node").chunks + rows.column("nb").chunks,
            rows.schema.field("node").type,
        )
        .combine_chunks()
        .dictionary_encode()
    )
    uniq = ids.dictionary
    n = len(uniq)
    order = pc.sort_indices(uniq).to_numpy()
    rank = np.empty(n + 1, np.int64)
    rank[order] = np.arange(n)
    rank[n] = n  # the null id: it joins no label, so no vote carries it
    code = rank[ids.indices.fill_null(n).to_numpy()]
    node, nb = code[: rows.num_rows], code[rows.num_rows :]

    label = np.arange(n + 1)
    present = np.zeros(n + 1, bool)
    present[node] = True
    live = nb < n
    node, nb = node[live], nb[live]
    for _ in range(int(rounds)):
        voted = present[nb]
        key, cnt = np.unique(
            node[voted] * (n + 1) + label[nb[voted]], return_counts=True
        )
        to, lab = np.divmod(key, n + 1)
        # Per node: count DESC, then label ASC; the first row wins.
        ranked = np.lexsort((lab, -cnt, to))
        first = np.ones(len(ranked), bool)
        first[1:] = to[ranked][1:] != to[ranked][:-1]
        win = ranked[first]
        present[:] = False
        present[to[win]] = True
        label[to[win]] = lab[win]

    from pyspark.sql.types import StructField, StructType

    out = np.flatnonzero(present)
    values = pa.concat_arrays([uniq.take(order), pa.nulls(1, uniq.type)])
    # The distributed result's schema: nbr's widened node field, and a
    # label that is the node itself before any round and a nullable
    # struct-MIN field after one.
    nf = nbr.schema["node"]
    schema = StructType(
        [nf, StructField("label", nf.dataType, rounds > 0 or nf.nullable)]
    )
    return nbr.sparkSession.createDataFrame(
        pa.table(
            {"node": values.take(out), "label": values.take(label[out])}
        ),
        schema,
    )
