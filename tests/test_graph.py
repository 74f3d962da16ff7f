"""Connected-components tests: known topologies, fixpoint behavior,
and a union-find cross-check over the real MinHash pair graph."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators import dedup as D
from hdfs_parquet_importer_spark.operators import graph as G
from hdfs_parquet_importer_spark.operators.graph import connected_components
from hdfs_parquet_importer_spark.tables import load_table


def _components(spark, pairs):
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r.node: r.component
        for r in connected_components(edges, "id_a", "id_b").collect()
    }


def test_two_triangles(spark):
    got = _components(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_long_chain_needs_propagation(spark):
    # A path 0-1-2-...-9: min label must travel the full diameter.
    got = _components(spark, [(i, i + 1) for i in range(9)])
    assert set(got.values()) == {0}
    assert len(got) == 10


def test_star_graph(spark):
    got = _components(spark, [(5, i) for i in range(6, 12)])
    assert set(got.values()) == {5}


def test_matches_union_find_on_minhash_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = [
        (r.id_a, r.id_b)
        for r in D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
        .select("id_a", "id_b")
        .collect()
    ]
    if not pairs:
        return  # nothing to cluster at this sf
    # Driver-side union-find ground truth.
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expect = {n: find(n) for n in parent}
    got = _components(spark, pairs)
    assert got == expect


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------
def _pagerank_numpy(edges, damping, n_iter):
    """Dense power-iteration reference (driver-side, tiny graphs)."""
    nodes = sorted({u for u, v, _ in edges} | {v for u, v, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outw = {}
    for u, _, w in edges:
        outw[u] = outw.get(u, 0.0) + w
    r = [1.0 / n] * n
    for _ in range(n_iter):
        contrib = [0.0] * n
        for u, v, w in edges:
            contrib[idx[v]] += r[idx[u]] * (w / outw[u])
        dangling = sum(r[idx[x]] for x in nodes if x not in outw)
        r = [
            (1.0 - damping) / n + damping * (c + dangling / n)
            for c in contrib
        ]
    return {nodes[i]: r[i] for i in range(n)}


def _pagerank_spark(spark, edges, **kw):
    from hdfs_parquet_importer_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src string, dst string, w double")
    return {
        r.node: r.rank
        for r in pagerank(df, "src", "dst", weight="w", **kw).collect()
    }


def test_pagerank_matches_reference_with_dangling_node(spark):
    # d is a sink (no out-edges): its mass must be redistributed, not
    # lost — ranks still sum to 1.
    edges = [
        ("a", "b", 1.0),
        ("a", "c", 2.0),
        ("b", "c", 1.0),
        ("c", "d", 1.0),
    ]
    got = _pagerank_spark(spark, edges, damping=0.85, n_iter=8)
    want = _pagerank_numpy(edges, 0.85, 8)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_uniform_on_symmetric_cycle(spark):
    # A directed cycle is perfectly symmetric: every node 1/n exactly,
    # at every iteration count.
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)]
    got = _pagerank_spark(spark, edges, damping=0.85, n_iter=3)
    for v in got.values():
        assert abs(v - 1.0 / 3.0) < 1e-12


def _ref_lpa(edge_list, rounds):
    """Pure-Python synchronous LPA, tiebreak (count DESC, label ASC)."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for u, v in edge_list:
        nbrs[u].append(v)
        nbrs[v].append(u)
    lbl = {n: n for n in nbrs}
    for _ in range(rounds):
        lbl = {
            n: min(
                Counter(lbl[x] for x in ns).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for n, ns in nbrs.items()
        }
    return lbl


def test_label_propagation_matches_reference(spark):
    # Two triangles joined by a bridge + a pendant: communities must
    # form around the triangles; the pendant follows its neighbor.
    edge_list = [
        (1, 2), (2, 3), (1, 3),
        (10, 11), (11, 12), (10, 12),
        (3, 10), (12, 13),
    ]
    from hdfs_parquet_importer_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(edge_list, "u long, v long")
    for rounds in (1, 2, 4):
        got = {
            r.node: r.label
            for r in label_propagation(edges, rounds=rounds).collect()
        }
        assert got == _ref_lpa(edge_list, rounds), rounds


def test_label_propagation_deterministic(spark):
    edge_list = [(i, (i * 3) % 17) for i in range(17) if i != (i * 3) % 17]
    from hdfs_parquet_importer_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(edge_list, "u long, v long")
    a = sorted((r.node, r.label) for r in label_propagation(edges, rounds=3).collect())
    b = sorted((r.node, r.label) for r in label_propagation(edges, rounds=3).collect())
    assert a == b


def _union_find_reference(edge_rows):
    """Driver-side min-id components — the INDEPENDENT oracle for the
    folded operator (the pre-r9 jump-vs-plain comparison became
    vacuous once _jump turned into an alias; r9 review)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_matches_independent_union_find(spark, sf_dir):
    """The pointer-jumping connected_components must compute the
    identical fixpoint (min reachable id) as a driver-side union-find
    on a long chain (the shortcut's worst-case input) and on the real
    MinHash pair graph."""
    chain_edges = [(i, i + 1) for i in range(30, 60)]
    chain = spark.createDataFrame(chain_edges, ["id_a", "id_b"])
    got = {
        (r.node, r.component)
        for r in connected_components(chain, max_iter=40).collect()
    }
    want = set(_union_find_reference(chain_edges).items())
    assert got == want
    assert all(c == 30 for _, c in got)

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.8
    ).select("id_a", "id_b")
    pair_rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    if pair_rows:
        got = {
            (r.node, r.component)
            for r in connected_components(pairs).collect()
        }
        assert got == set(_union_find_reference(pair_rows).items())


def test_cc_converges_exactly_at_max_iter(spark):
    """A graph whose labels stop moving exactly on round max_iter is
    CONVERGED — the verification round must observe changed == 0
    instead of raising; movement beyond max_iter still raises;
    max_iter=0 is rejected (not a silent identity labeling). With the
    propagate+jump round, a 31-node path converges in exactly 4
    rounds."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    # Converges exactly at the limit: the +1 verification round sees
    # changed == 0 and must NOT raise.
    got = {
        (r.node, r.component)
        for r in connected_components(chain, max_iter=4).collect()
    }
    assert got == {(i, 0) for i in range(31)}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)

    with pytest.raises(ValueError, match="max_iter"):
        connected_components(chain, max_iter=0)


def _distributed_cc(monkeypatch, edges, **kw):
    """connected_components with the driver gate closed."""
    with monkeypatch.context() as m:
        m.setattr(G, "DRIVER_CC_MAX_SYM_ROWS", 0)
        return connected_components(edges, **kw)


def test_cc_driver_and_distributed_strategies_agree(spark, monkeypatch):
    """connected_components picks a driver-local strategy for
    graphs under DRIVER_CC_MAX_SYM_ROWS (the broadcast-join analogy).
    Both strategies must produce identical labelings, identical
    schemas, and the identical max_iter/raise contract."""
    import pytest

    edges = (
        [(i, i + 1) for i in range(9)]          # chain
        + [(100, 101), (101, 102), (100, 102)]  # triangle
        + [(50, 60)]                            # isolated pair
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    local_df = connected_components(df)
    dist_df = _distributed_cc(monkeypatch, df)
    assert [f.dataType for f in local_df.schema.fields] == [
        f.dataType for f in dist_df.schema.fields
    ]
    local = {(r.node, r.component) for r in local_df.collect()}
    dist = {(r.node, r.component) for r in dist_df.collect()}
    assert local == dist

    # String node ids (the fuzzy_name_clusters shape) agree too.
    sdf = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    assert {
        (r.node, r.component) for r in connected_components(sdf).collect()
    } == {
        (r.node, r.component)
        for r in _distributed_cc(monkeypatch, sdf).collect()
    } == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}

    # The convergence contract is strategy-independent: a 31-node
    # chain converges in exactly 4 propagate+jump rounds on BOTH
    # paths, and exceeding the budget raises on both.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    for cc in (connected_components, partial(_distributed_cc, monkeypatch)):
        got = {(r.node, r.component) for r in cc(chain, max_iter=4).collect()}
        assert got == {(i, 0) for i in range(31)}
        with pytest.raises(RuntimeError, match="did not converge"):
            cc(chain, max_iter=3)


def test_cc_mixed_int_long_ids_same_schema_on_both_strategies(
    spark, monkeypatch
):
    """An int ``src`` and a long ``dst`` widen to long in the
    symmetrized edge list; the driver path must report that type,
    exactly as the distributed path does."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 3_000_000_000)], "id_a int, id_b long"
    )
    local_df = connected_components(df)
    dist_df = _distributed_cc(monkeypatch, df)
    assert local_df.schema == dist_df.schema
    assert {f.dataType.simpleString() for f in local_df.schema.fields} == {
        "bigint"
    }
    local = {(r.node, r.component) for r in local_df.collect()}
    assert local == {(r.node, r.component) for r in dist_df.collect()}
    assert local == {(1, 1), (2, 1), (3, 1), (7, 7), (3_000_000_000, 7)}


def test_cc_max_iter_rejected_before_any_spark_job(spark):
    """An invalid max_iter is a caller error: it must raise before the
    symmetrized edge list is built or checkpointed, so the call runs
    no Spark job."""
    import pytest

    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    sc = spark.sparkContext
    group = "test_cc_max_iter_rejected_before_any_spark_job"
    sc.setJobGroup(group, "connected_components(max_iter=0)")
    try:
        with pytest.raises(ValueError, match="max_iter"):
            connected_components(df, max_iter=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_cc_driver_gate_boundary(spark, monkeypatch):
    """DRIVER_CC_MAX_SYM_ROWS is inclusive: a graph whose symmetrized
    edge list has exactly that many rows takes _driver_cc, one row
    fewer takes the distributed loop, and both return the same
    labels."""
    edges = [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22)]
    sym_rows = len({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    driver_calls, legs = [], []
    real_driver_cc, real_record = G._driver_cc, G.record_loop_leg

    def driver_spy(sym, max_iter):
        driver_calls.append(max_iter)
        return real_driver_cc(sym, max_iter)

    def record_spy(label, frame):
        legs.append(label)
        return real_record(label, frame)

    monkeypatch.setattr(G, "_driver_cc", driver_spy)
    monkeypatch.setattr(G, "record_loop_leg", record_spy)

    monkeypatch.setattr(G, "DRIVER_CC_MAX_SYM_ROWS", sym_rows)
    at_gate = {(r.node, r.component) for r in connected_components(df).collect()}
    assert len(driver_calls) == 1 and legs == []

    monkeypatch.setattr(G, "DRIVER_CC_MAX_SYM_ROWS", sym_rows - 1)
    past_gate = {
        (r.node, r.component) for r in connected_components(df).collect()
    }
    assert len(driver_calls) == 1
    assert legs and set(legs) == {"connected_components.leg"}

    assert at_gate == past_gate
    assert at_gate == {(i, 0) for i in range(10)} | {
        (20, 20), (21, 20), (22, 20)
    }
