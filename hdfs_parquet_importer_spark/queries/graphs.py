"""Graph analytics over implicit interaction graphs (driver
north_star extension; the reference — a 3-file CSV→Parquet ETL app,
SURVEY §2.1 — has no graph surface).

The graph here is the *mutual k-nearest-neighbor co-activity graph*
derived from the events fact table: candidate affinities are user
pairs sharing >= ``_MIN_SHARED_BUCKETS`` distinct 5-minute activity
buckets; each user keeps its ``_KNN`` strongest partners (by shared
buckets, partner-id tiebreak); an undirected edge survives only if
BOTH endpoints keep each other. Mutual-kNN is the standard
similarity-graph construction (clustering, manifold methods, social
affinity) and the reason it is used here is structural: a fixed
support threshold over co-occurrence noise densifies QUADRATICALLY
as users grow (constant per-pair probability x C(n,2) pairs — the
first draft of this module measured avg degree 140 at sf0.1 and
would have been avg degree 1400 at sf1), while mutual-kNN caps
degree at k by construction, so the edge list stays linear in users
at every scale factor.

Scale stance (the part that must survive 100 TB):

* candidate generation is a self-equi-join on the time bucket — the
  per-bucket user list bounds the fan-out (C(k,2) per bucket, never
  n^2 over users), and a pathological hot bucket is exactly the
  skewed-key shape AQE skew-split handles;
* the top-k cut is a per-user PARTITIONED window that Spark plans as
  WindowGroupLimit (rank pushdown before the shuffle); mutuality is
  one self-equi-join on the reversed pair key;
* triangle counting uses the degree-ordered edge-iterator (the
  classic distributed formulation, e.g. Suri & Vassilvitskii's
  MapReduce "last reducer" paper): orient every edge from the
  (degree, node)-smaller endpoint to the larger, count wedges at the
  smaller endpoint, close them with one more equi-join. Orientation
  caps per-node out-degree at O(sqrt(m)), so the wedge table is
  O(m^1.5) worst case instead of sum-of-squares-of-degrees — the
  difference between a heavy-but-parallel shuffle and a star-node
  explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_parquet_importer_spark.operators.util import (
    ensure_parallelism,
    record_loop_leg,
)
from hdfs_parquet_importer_spark.queries import register
from hdfs_parquet_importer_spark.tables import load_table

_MIN_SHARED_BUCKETS = 2
_KNN = 8

# DuckDB twin of _co_activity_edges: u < v, mutual top-k affinity.
# Both engines floor whole-minute epochs to 300 s — exact integers.
_EDGES_SQL = f"""
am AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch(date_trunc('minute', ts)) / 300) AS BIGINT) AS m
  FROM events
),
cand AS (
  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
  FROM am a JOIN am b ON a.m = b.m AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MIN_SHARED_BUCKETS}
),
dir AS (
  SELECT u AS src, v AS dst, w FROM cand
  UNION ALL
  SELECT v AS src, u AS dst, w FROM cand
),
kept AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst)
             AS r
    FROM dir
  ) WHERE r <= {_KNN}
),
e AS (
  SELECT a.src AS u, a.dst AS v
  FROM kept a JOIN kept b ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst
),
deg AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node
)
"""


def _co_activity_edges(ev: DataFrame) -> DataFrame:
    """Undirected mutual-kNN edge list (u < v), module docstring.

    Candidates: one distinct-projection, one bucket self-equi-join,
    one pair aggregate — per-bucket fan-out is C(users-in-bucket, 2),
    so shuffle volume is sum over buckets of k^2, bounded by activity
    concentration, not user-count squared. Top-k: per-user window
    (WindowGroupLimit). Mutuality: reversed-key self-equi-join.
    """
    from pyspark.sql import Window

    am = (
        # Project to the two columns the graph reads BEFORE the
        # round-robin spread: the events row carries a props map,
        # event_type and value that would otherwise ride the
        # ensure_parallelism exchange (guide §2.3 project before the
        # exchange; measured ~0.4 s per edge build at sf0.1).
        ensure_parallelism(ev.select("user_id", "ts"))
        .select(
            "user_id",
            F.floor(
                F.unix_timestamp(F.date_trunc("minute", F.col("ts"))) / 300
            ).alias("m"),
        )
        .distinct()
    )
    a = am.select(F.col("user_id").alias("u"), "m")
    b = am.select(F.col("user_id").alias("v"), "m")
    cand = (
        a.join(b, "m")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _MIN_SHARED_BUCKETS)
    )
    # Both directions come from ONE explode instead of a unionAll of
    # two selects over `cand` — the union's branches would each
    # re-execute the candidate join+aggregate subtree.
    dirx = cand.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("src"),
                    F.col("v").alias("dst"),
                    F.col("w").alias("w"),
                ),
                F.struct(
                    F.col("v").alias("src"),
                    F.col("u").alias("dst"),
                    F.col("w").alias("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    wk = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    kept = (
        dirx.withColumn("r", F.row_number().over(wk))
        .filter(F.col("r") <= _KNN)
        .select("src", "dst")
    )
    # Mutuality via ONE unordered-pair aggregate — a directed pair is
    # unique within `kept`, so an undirected pair kept by both
    # endpoints appears exactly twice. A reversed-key left-semi
    # self-join would re-execute the entire candidate+window pipeline
    # for its build side; the count==2 filter keeps the identical
    # edge set with a single exchange.
    return (
        kept.groupBy(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 2)
        .select("u", "v")
    )


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


@register(
    "graph_triangle_count",
    oracle=f"""
WITH {_EDGES_SQL},
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
wed AS (
  SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
         COUNT(*) AS n_nodes
  FROM deg
),
ne AS (SELECT COUNT(*) AS n_edges FROM e)
SELECT wed.n_nodes,
       ne.n_edges,
       tri.n_triangles,
       ROUND(CASE WHEN wed.n_wedges = 0 THEN 0.0
                  ELSE 3.0 * tri.n_triangles / wed.n_wedges END,
             6) AS transitivity
FROM wed, ne, tri
""",
    doc="Global triangle count + transitivity (3*triangles/wedges) of "
    "the mutual-kNN co-activity graph (module docstring: top-8 "
    "partners per user, both-directions kept — degree <= 8 by "
    "construction, so the graph stays sparse at every scale factor), "
    "via the degree-ordered edge-iterator: "
    "orient each edge toward the (deg, node)-larger endpoint, build "
    "wedges by self-equi-joining oriented edges on their common "
    "smaller endpoint, close each wedge with an equi-join back to the "
    "oriented edge set. Orientation bounds out-degree at O(sqrt(m)), "
    "so wedge volume is O(m^1.5) — the distributed-triangle shape "
    "that survives star nodes (module docstring). The oracle counts "
    "the same triangles by the direct x<y<z triple equi-join, an "
    "INDEPENDENT formulation (no degrees involved) that must agree "
    "exactly. Integer counts; the one double (transitivity) is a "
    "single division, ROUND(6).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.graph import (
        oriented_edges,
        triangles_of_oriented,
    )

    ev = load_table(spark, sf_dir, "events")
    # The edge list feeds FIVE consumers (degrees, both orientation
    # joins inside triangles(), the closure semi-join, the edge
    # count); without a materialization Catalyst re-runs the bucket
    # self-join + pair aggregate per consumer (measured 12.5 s -> 3 s
    # at sf0.1). Same localCheckpoint pattern as pagerank's loop
    # invariants.
    edges = _co_activity_edges(ev).localCheckpoint(eager=False)
    # One degree pass shared between the wedge denominator below and
    # triangles()'s orientation (its deg parameter exists for this).
    deg = _degrees(edges).localCheckpoint(eager=False)

    # The oriented-edge table feeds THREE consumers inside the
    # wedge+closure legs (both self-join sides and the closure
    # semi-join); without materialization the 2-join/4-exchange
    # orientation subtree runs three times (plan dumps under plans/).
    # Checkpoint once, same rationale as `edges` above — and hash it by
    # the wedge key first, so the wedge self-join reads two
    # identically-partitioned sides and plans ZERO exchanges of its own
    # (guide §2.4; measured 3.03 -> 2.34 s for the triangle leg at
    # sf0.1, identical count).
    oriented = (
        oriented_edges(edges, deg=deg)
        .repartition("a")
        .localCheckpoint(eager=False)
    )
    n_tri = triangles_of_oriented(oriented).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    wed = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        wed.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(
                F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                    3.0 * F.col("n_triangles") / F.col("n_wedges")
                ),
                6,
            ).alias("transitivity"),
        )
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH {_EDGES_SQL}
SELECT CAST(FLOOR(LOG2(deg)) AS BIGINT) AS degree_bin,
       COUNT(*) AS n_nodes,
       MIN(deg) AS min_deg,
       MAX(deg) AS max_deg
FROM deg
GROUP BY 1 ORDER BY 1
""",
    doc="Log2-binned degree histogram of the mutual-kNN co-activity "
    "graph — the degree-profile chart (for mutual-kNN the support is "
    "capped at k=8, i.e. bins 0..3; for an unthresholded graph this "
    "same rollup is the power-law fingerprint). Output is bounded by "
    "the DOMAIN of log2(degree) (< 40 bins for any graph that fits "
    "in any datacenter), so the final aggregate is a constant-size "
    "rollup of the per-node degree table; degrees themselves are one "
    "unionAll + groupBy over the edge list. Shares the edge "
    "construction (and its oracle CTE) with graph_triangle_count. "
    "All-integer output — exact parity.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # _degrees reads the edge list twice (one union branch per
    # endpoint) and the mutual-kNN chain reads its own kept-set twice
    # (forward + reversed) — checkpoint once, as in triangle_count.
    deg = _degrees(_co_activity_edges(ev).localCheckpoint(eager=False))
    return (
        deg.groupBy(
            F.floor(F.log2("deg")).cast("long").alias("degree_bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
        .orderBy("degree_bin")
    )


_LPA_ROUNDS = 4


def _lpa_round_cte(k: int) -> str:
    """Round-``k`` CTE of the synchronous label-propagation replay:
    every node adopts the most frequent label among its neighbors
    (count DESC, label ASC tiebreak), all nodes simultaneously."""
    return f"""
l{k} AS (
  SELECT node, label FROM (
    SELECT n.node, l.label,
           row_number() OVER (PARTITION BY n.node
                              ORDER BY COUNT(*) DESC, l.label) AS r
    FROM nbr n JOIN l{k - 1} l ON l.node = n.nb
    GROUP BY n.node, l.label
  ) WHERE r = 1
)"""


@register(
    "graph_label_propagation",
    oracle=f"""
WITH {_EDGES_SQL},
nbr AS (
  SELECT u AS node, v AS nb FROM e
  UNION ALL
  SELECT v AS node, u AS nb FROM e
),
l0 AS (SELECT node, node AS label FROM deg),
{",".join(_lpa_round_cte(k) for k in range(1, _LPA_ROUNDS + 1))}
SELECT label AS community, COUNT(*) AS size
FROM l{_LPA_ROUNDS}
GROUP BY 1 ORDER BY size DESC, community LIMIT 10
""",
    doc="Community detection by synchronous label propagation "
    "(Raghavan et al. 2007) over the mutual-kNN co-activity graph "
    "(module docstring), 4 bounded rounds, deterministic tiebreak "
    "(neighbor-label count DESC, label ASC) — LPA is the linear-time "
    "community baseline and, like pagerank here, a representative of "
    "the iterate-join-reaggregate family: each round is ONE "
    "edge-to-label equi-join + a (node, label) partial-agg count + a "
    "per-node top-1 via struct-MIN over (-cnt, label) — map-side "
    "partial agg, no per-partition sort. The label state is read once "
    "per round, so lineage grows linearly and the whole loop is one "
    "lazy plan, checkpointed only at the end. Degree is "
    "capped at k=8 by the mutual-kNN construction, so per-round "
    "shuffle volume is O(k x nodes) at any corpus size; synchronous "
    "updates + the deterministic tiebreak make all 4 rounds "
    "bit-reproducible, and the oracle replays the identical rounds "
    "as chained CTEs. Output: the 10 largest communities.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_parquet_importer_spark.operators.graph import label_propagation

    ev = load_table(spark, sf_dir, "events")
    edges = _co_activity_edges(ev).localCheckpoint(eager=False)
    lbl = label_propagation(edges, "u", "v", rounds=_LPA_ROUNDS)
    return (
        lbl.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), "community")
        .limit(10)
    )


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
WITH {_EDGES_SQL},
nbr AS (
  SELECT u AS node, v AS nb FROM e
  UNION ALL
  SELECT v AS node, u AS nb FROM e
),
cn AS (
  SELECT a.node AS u, b.node AS v, COUNT(*) AS common_nb
  FROM nbr a JOIN nbr b ON a.nb = b.nb AND a.node < b.node
  GROUP BY 1, 2
),
na AS (
  SELECT * FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.u AND e.v = cn.v)
)
SELECT na.u, na.v, na.common_nb,
       ROUND(1.0 * na.common_nb
             / (du.deg + dv.deg - na.common_nb), 6) AS jaccard
FROM na
JOIN deg du ON du.node = na.u
JOIN deg dv ON dv.node = na.v
ORDER BY jaccard DESC, u, v LIMIT 20
""",
    doc="Link prediction by neighbor-set Jaccard (Liben-Nowell & "
    "Kleinberg 2003's strongest unsupervised baseline) over the "
    "mutual-kNN co-activity graph: for every NON-adjacent pair with "
    "at least one common neighbor, |N(u) inter N(v)| / |N(u) union "
    "N(v)|, top 20. The common-neighbor table is the wedge self-join "
    "on the shared endpoint — the SAME bounded shape as triangle "
    "counting: degree <= k=8 by the mutual-kNN construction, so "
    "wedge volume is O(k x edges) at any corpus size, never "
    "sum-of-squared-degrees over a star node. Non-adjacency is one "
    "anti-join against the edge list; union size comes from the "
    "shared degree table by inclusion-exclusion (deg_u + deg_v - "
    "common) instead of materializing neighbor sets. Oracle replays "
    "the identical construction with NOT EXISTS as the anti-join. "
    "Integer counts; the one double (jaccard) is a single division, "
    "ROUND(6); ordering fully deterministic (jaccard DESC, u, v).",
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Edge list feeds three consumers (both nbr directions via the
    # wedge join, the anti-join, degrees) — same materialization
    # rationale as graph_triangle_count.
    edges = _co_activity_edges(ev).localCheckpoint(eager=False)
    # (Pre-hashing nbr by the wedge key — the triangle/LPA
    # pattern — measured slightly WORSE here: with no loop to
    # amortize it, the added repartition exchange costs what the
    # self-join exchange saves. Left as-is deliberately.)
    nbr = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nb")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nb")))
    a = nbr.select(F.col("node").alias("u"), "nb")
    b = nbr.select(F.col("node").alias("v"), "nb")
    cn = (
        a.join(b, "nb")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common_nb"))
    )
    non_adj = cn.join(edges, ["u", "v"], "left_anti")
    # Read twice (deg_u and deg_v sides) — one degree pass, not two.
    deg = _degrees(edges).localCheckpoint(eager=False)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    return (
        non_adj.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_nb",
            F.round(
                F.col("common_nb")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common_nb")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(20)
    )


_KCORE_K = 4
_KCORE_ROUNDS = 4


def _kcore_round_cte(r: int) -> str:
    """Round-``r`` CTE of the synchronous k-core peel: degrees within
    the current subgraph, drop nodes below k, restrict edges to
    survivors."""
    prev = "ke0" if r == 1 else f"ke{r - 1}"
    # MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    # round references its predecessor three times — without
    # materialization the edge pipeline would be re-evaluated
    # O(3^rounds) times.
    return f"""
kd{r} AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
  GROUP BY node
),
kn{r} AS MATERIALIZED (SELECT node FROM kd{r} WHERE deg >= {_KCORE_K}),
ke{r} AS MATERIALIZED (
  SELECT p.u, p.v FROM {prev} p
  JOIN kn{r} a ON a.node = p.u
  JOIN kn{r} b ON b.node = p.v
),
ks{r} AS (
  SELECT {r} AS round,
         (SELECT COUNT(*) FROM kn{r}) AS n_nodes,
         (SELECT COUNT(*) FROM ke{r}) AS n_edges
)"""


@register(
    "graph_k_core",
    oracle=f"""
WITH {_EDGES_SQL},
ke0 AS MATERIALIZED (SELECT u, v FROM e),
{",".join(_kcore_round_cte(r) for r in range(1, _KCORE_ROUNDS + 1))}
SELECT * FROM (
  {" UNION ALL ".join(f"SELECT * FROM ks{r}" for r in range(1, _KCORE_ROUNDS + 1))}
) ORDER BY round
""",
    doc=f"k-core decomposition (k={_KCORE_K}) of the mutual-kNN "
    "co-activity graph by synchronous peeling — the standard "
    "dense-subgraph/spam-cluster primitive: each round recomputes "
    "degrees WITHIN the surviving subgraph, drops nodes below k, "
    "and restricts edges to survivors; reported per round so the "
    "output shows the fixpoint approach. Fourth member of the "
    "bounded iterate-join-reaggregate family here (pagerank, LPA, "
    "connected components): every round is one degree partial-agg + "
    "two node-key equi-joins over a degree<=8-by-construction edge "
    "list, survivor state localCheckpoint-ed per round so lineage "
    "stays flat. Peeling is monotone (node sets only shrink), so "
    f"{_KCORE_ROUNDS} synchronous rounds are deterministic and the "
    "oracle replays them as chained CTEs. All-integer output.",
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    edges = _co_activity_edges(ev).localCheckpoint(eager=False)
    stats = []
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        # Three consumers per round (both restriction joins + the
        # n_nodes count) — materialize the survivor set once instead
        # of re-running the degree aggregate per reader.
        deg = (
            _degrees(cur)
            .filter(F.col("deg") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=False)
        )
        na = deg.select(F.col("node").alias("u"))
        nb = deg.select(F.col("node").alias("v"))
        cur = cur.join(na, "u").join(nb, "v")
        record_loop_leg("k_core_peel.leg", cur)
        cur = cur.localCheckpoint(eager=False)
        n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        n_edges = cur.agg(F.count(F.lit(1)).alias("n_edges"))
        stats.append(
            n_nodes.crossJoin(F.broadcast(n_edges)).select(
                F.lit(r).alias("round"), "n_nodes", "n_edges"
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")
