"""Connected components via iterative DataFrame self-joins.

north_rule stage J6: the graph operator behind the graded
``cc_chain`` and ``cc_hot_hub`` queries, and the reference the tests
hold entity canonicalization (``linking.canonicalize``) to.  Implements
the alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
literature), which converges in O(log n) rounds and bounds the
per-round shuffle, with a bounded driver-side union-find finish once
the contracted edge set is small (the two-phase design, ibid. §6).

Scale notes:
* node ids are strings (urls / mention IRIs) — no lossy 64-bit
  hashing of node ids, so no collision risk at 10^12 nodes;
* each round is one shuffle on the node key; AQE skew-join handles
  hot components, and ``connected_components_salted`` pre-splits the
  giant-component star pattern that AQE can't fix inside an
  iterative loop (SURVEY.md §4);
* checkpointing every round cuts the lineage chain so round N's
  plan doesn't replay rounds 1..N-1.  ``reliable=False`` (default,
  sandbox/local) uses ``localCheckpoint`` — executor-memory-resident,
  lost on executor failure; on a real cluster with dynamic allocation
  pass ``reliable=True`` (requires ``sc.setCheckpointDir``) so rounds
  persist to reliable storage and survive executor loss;
* a graph at or under ``LOCAL_FINISH_EDGES`` costs one bounded
  collect after the canonical-edge checkpoint (the size check and
  the local finish's input in one action), and its labeling comes
  back as a driver-local frame.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Star rounds before the loop stops (chains converge in O(log n)).
MAX_ROUNDS = 30
# Edge count at or under which the contraction finishes driver-side.
LOCAL_FINISH_EDGES = 100_000


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    e = (edges.select(F.col(src).cast("string").alias("a"),
                      F.col(dst).cast("string").alias("b"))
         .filter(F.col("a") != F.col("b")))
    return e.select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) both directions; connect strictly-larger neighbours of u
    to min(N(u) ∪ {u})."""
    nbrs = e.union(e.select(F.col("b").alias("a"),
                            F.col("a").alias("b")))
    mins = (nbrs.groupBy("a")
            .agg(F.least(F.min("b"), F.first("a")).alias("m")))
    return (nbrs.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """For edges (u,v) with v <= u: connect all small neighbours and u
    itself to the minimum."""
    nbrs = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    # now b <= a for every row
    mins = nbrs.groupBy("a").agg(F.min("b").alias("m"))
    moved = (nbrs.join(mins, "a")
             .select(F.col("b").alias("x"), F.col("m")))
    self_edges = mins.select(F.col("a").alias("x"), F.col("m"))
    return (moved.union(self_edges)
            .filter(F.col("x") != F.col("m"))
            .select(F.least("x", "m").alias("a"),
                    F.greatest("x", "m").alias("b"))
            .distinct())


def _checkpoint(df: DataFrame, reliable: bool) -> DataFrame:
    """Cut lineage: reliable (HDFS/object-store via
    ``sc.setCheckpointDir``) or executor-local."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"),
                   F.lit(0)).alias("h"),
    ).first()
    return (row.n, row.h)


def _local_finish(spark, rows) -> DataFrame:
    """Finish a small (already size-checked) edge set driver-side:
    union-find, component = min node id — identical output contract
    to the distributed loop.  This is phase 2 of the standard
    two-phase design (Kiveris et al. §6 run their final rounds on a
    single machine once the contracted graph fits): distributed star
    rounds shrink the graph toward one edge per (node, component);
    long before that point the edge set is tiny relative to the
    cluster, and each additional round costs a full scheduling +
    checkpoint cycle to move ever less data.  ``rows`` holds at most
    ``LOCAL_FINISH_EDGES`` (a, b) edges (two short strings each),
    NOT the input size.

    The labeling goes back as a driver-local frame built from an
    Arrow table: it plans as a ``LocalTableScan`` with size
    statistics, so a consumer's join broadcasts it without a hint,
    from rows the JVM already holds."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:        # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        m = comp_min.get(root)
        if m is None or node < m:
            comp_min[root] = node
    nodes = list(parent)
    return spark.createDataFrame(
        pa.table({"node": pa.array(nodes, pa.string()),
                  "component": pa.array(
                      [comp_min[find(n)] for n in nodes], pa.string())}),
        "node string, component string")


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         reliable: bool = False) -> DataFrame:
    """-> (node, component) where component = min node id (string
    order) in the node's connected component.

    Isolated nodes (no edges) are not returned; union them in from
    the node table with component = node if needed.

    Two phases: whenever the current (canonicalized, deduped) edge
    count is at or under ``LOCAL_FINISH_EDGES``, the remaining
    contraction runs driver-side (``_local_finish`` — bounded
    collect + union-find, identical output).  On the input graph one
    bounded collect of at most ``LOCAL_FINISH_EDGES + 1`` edges is
    both the size check and the local finish's input (an empty graph
    returns from it); between star rounds the round's fingerprint
    gives the count.  Both constants are read at call time; tests
    patch ``LOCAL_FINISH_EDGES`` to 0 to run the star loop alone.
    """
    spark = edges.sparkSession
    e = _checkpoint(_canon_edges(edges, src, dst), reliable)
    rows = e.limit(LOCAL_FINISH_EDGES + 1).collect()
    if len(rows) <= LOCAL_FINISH_EDGES:
        return _local_finish(spark, rows)
    prev = _fingerprint(e)
    for _ in range(MAX_ROUNDS):
        # the per-round checkpoint keeps every round's plan
        # constant-size (each star reads its input twice)
        e = _checkpoint(_small_star(_large_star(e)), reliable)
        cur = _fingerprint(e)
        if cur == prev:
            break
        if 0 < cur[0] <= LOCAL_FINISH_EDGES:
            return _local_finish(spark, e.collect())
        prev = cur
    # converged: every edge is (node -> component representative)
    members = e.select(F.col("b").alias("node"),
                       F.col("a").alias("component"))
    reps = e.select(F.col("a").alias("node"),
                    F.col("a").alias("component")).distinct()
    return members.union(reps).distinct()


SALT_MARKER = "￿#salt#"


def _salt_canonical(e: DataFrame, max_degree: int,
                    n_salts: int) -> DataFrame:
    """Explicit skew salting for the iterative CC loop (north_rule;
    AQE can't re-plan inside an iteration — SURVEY.md §4), over an
    already-canonicalized edge set (``_canon_edges`` output).

    Nodes whose degree exceeds ``max_degree`` are split into
    ``n_salts`` replicas: each incident edge is rewired to the
    replica chosen by the *other* endpoint's hash, and replicas are
    chained back to the original node so connectivity is preserved.
    Replica names sort ABOVE every real node (marker = U+FFFF), so a
    replica can never become a component representative."""
    degrees = (e.select(F.col("a").alias("node"))
               .union(e.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count("*").alias("deg")))
    hot = degrees.filter(F.col("deg") > max_degree) \
                 .select(F.col("node").alias("hot_node"))

    def rewire(df, node_col, other_col):
        salt = F.pmod(F.xxhash64(F.col(other_col)), F.lit(n_salts))
        return F.when(
            F.col("hot_node").isNotNull(),
            F.concat(F.col(node_col), F.lit(SALT_MARKER),
                     salt.cast("string"))
        ).otherwise(F.col(node_col))

    e2 = (e.join(F.broadcast(hot), e["a"] == hot["hot_node"], "left")
          .select(rewire(e, "a", "b").alias("a"), "b")
          .join(F.broadcast(hot.withColumnRenamed("hot_node", "hb")),
                F.col("b") == F.col("hb"), "left")
          .select("a", F.when(
              F.col("hb").isNotNull(),
              F.concat(F.col("b"), F.lit(SALT_MARKER),
                       F.pmod(F.xxhash64(F.col("a")),
                              F.lit(n_salts)).cast("string")))
              .otherwise(F.col("b")).alias("b")))
    # chain each replica back to its original node
    chains = (hot.select(
        F.col("hot_node").alias("a"),
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(n_salts - 1)),
            lambda i: F.concat(F.col("hot_node"), F.lit(SALT_MARKER),
                               i.cast("string")))).alias("b")))
    return e2.union(chains)


def connected_components_salted(edges: DataFrame,
                                max_degree: int = 100_000,
                                n_salts: int = 16) -> DataFrame:
    """CC over (``src``, ``dst``) edges with explicit hot-key salting
    (``_salt_canonical``) applied up front; the salt replicas are
    dropped from the labeling.

    The canonical edge set is checkpointed before salting: the
    salting stage launches several independent jobs over it (degree
    aggregation feeding two broadcast builds, then the rewire pass),
    and without the checkpoint every one of those re-executes the
    caller's full edge lineage (guide §2.4/§5 — cut the lineage once,
    then fan out)."""
    e = _canon_edges(edges, "src", "dst").localCheckpoint(eager=True)
    salted = _salt_canonical(e, max_degree, n_salts)
    return (connected_components(salted, "a", "b")
            .filter(~F.col("node").contains(SALT_MARKER)))
