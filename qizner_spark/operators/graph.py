"""Connected components over the co-mention graph (canonicalization).

Two paths, and the result's plan says which one ran. A graph whose
distinct edge set fits under ``driver_threshold`` is solved by
driver-side union-find and comes back as a local relation
(``DataFrame.isLocal()`` is true). Larger graphs take alternating
large-star / small-star map-reduce rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) implemented
with plain DataFrame ops — no GraphFrames dependency. Converges in
O(log n) rounds; each round is two shuffles.

Skew notes (explicit, per north_rule):
  * per-node neighborhood minima are HOT-KEY-SALTED two-phase
    aggregates: keys whose neighborhood meets ``HOT_THRESHOLD`` rows
    split into ``salt_buckets`` deterministic sub-keys
    (pmod(xxhash64(dst))) before any single reducer sees them, and
    only their minima replicate across buckets for the re-attach
    equi-join — cold keys pay nothing (measured: salting everything
    cost 16x|nodes| extra shuffled rows per round, BENCH/SKEW.md);
  * ``salt_buckets=1`` falls back to a window min (one shuffle, fine
    for moderate skew under AQE) — both paths return identical rows;
  * lineage is cut with localCheckpoint each round so the iterative
    plan doesn't snowball; each round frees the round it supersedes,
    and the caller frees the last one, which the returned map reads,
    with :func:`unpersist_checkpoints`.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from qizner_spark.operators.pairs import ordered_pairs

DEFAULT_SALT_BUCKETS = 16

#: A src key whose (symmetrized) neighborhood meets this row count is
#: "hot" and gets salted; everything else takes the plain two-phase
#: path. Scale note: the hot SET is bounded by total_rows /
#: HOT_THRESHOLD keys — raise the threshold with data volume so the
#: broadcast of the hot set stays small (at 10^12 edge rows, 5x10^4
#: would admit up to 2x10^7 keys; use 10^6+ there). Read at call
#: time, so a test can lower it to put a small hub on the hot path.
HOT_THRESHOLD = 50_000
#: the seeded sample that counts rows per key to find the hot keys
HOT_SAMPLE_FRAC = 0.01
#: a cap on the large-star/small-star rounds (they converge in O(log n))
MAX_ITERATIONS = 25


def _with_neighborhood_min(df: DataFrame, salt_buckets: int) -> DataFrame:
    """Attach ``m`` = min(src, min(dst) over rows sharing src).

    salt_buckets > 1: HOT-KEY-ONLY salting, priced so cold keys pay
    nothing and hot keys pay almost nothing:

    * detection — a seeded ``HOT_SAMPLE_FRAC`` sample counted per key
      (a 10^8-row hub shows up in any sample; a marginally-hot key
      that sampling misses just takes the cold path, which is merely
      its straggler risk, never a correctness issue). The sample is
      skipped when ``HOT_THRESHOLD`` is too small for it to resolve.
    * cold keys — the plain per-key window min, now WITHOUT the hub
      rows in the partition (the straggler is gone from this path).
    * hot keys — two-phase min over (src, pmod(xxhash64(dst), k)):
      the groupBy's map-side combine collapses each partition's hub
      rows to <= k partials, so the shuffle moves ~k x partitions
      rows; the per-src fold is tiny and re-attaches via BROADCAST
      (bounded by the hot-key count).

    Round-4 history (BENCH/SKEW.md): replicate-every-key salting cost
    16x|nodes| extra shuffled rows per round (5-6x wall at 3x10^6
    nodes); an unsampled count pass + shuffle-join re-attach still
    cost 2-4x. Deterministic sampling + salt, no rand(): identical
    results across retries.
    """
    if salt_buckets <= 1:
        w = Window.partitionBy("src")
        return df.withColumn("m", F.least(F.col("src"), F.min("dst").over(w)))
    # sample only when the threshold is big enough for a 1% sample to
    # see >= ~50 rows of a borderline-hot key; else count exactly
    use_sample = HOT_THRESHOLD * HOT_SAMPLE_FRAC >= 50
    probe = df.sample(HOT_SAMPLE_FRAC, seed=7) if use_sample else df
    # the /2 is sampling-variance slack (a true-hot key whose sample
    # count lands below the scaled threshold must still classify hot);
    # in exact-count mode there is no variance, so the documented
    # contract applies verbatim: >= HOT_THRESHOLD rows is hot
    cutoff = (max(1, int(HOT_THRESHOLD * HOT_SAMPLE_FRAC / 2))
              if use_sample else HOT_THRESHOLD)
    hot = (
        probe.groupBy("src").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= cutoff)
        .select("src", F.lit(1).alias("_hot"))
    )
    tagged = df.join(F.broadcast(hot), "src", "left")
    cold = tagged.where(F.col("_hot").isNull()).drop("_hot")
    hot_rows = tagged.where(F.col("_hot").isNotNull()).drop("_hot")
    w = Window.partitionBy("src")
    cold_min = cold.withColumn("m", F.least(F.col("src"), F.min("dst").over(w)))
    mins = (
        hot_rows.withColumn("_salt", F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)))
        .groupBy("src", "_salt").agg(F.min("dst").alias("_pm"))
        .groupBy("src").agg(F.min("_pm").alias("_mn"))
    )
    hot_min = (
        hot_rows.join(F.broadcast(mins), "src")
        .withColumn("m", F.least(F.col("src"), F.col("_mn")))
        .drop("_mn")
    )
    return cold_min.unionByName(hot_min)


def _large_star(edges: DataFrame, salt_buckets: int) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's minimum
    neighborhood label min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with_min = _with_neighborhood_min(sym, salt_buckets)
    return (
        with_min.where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame, salt_buckets: int) -> DataFrame:
    """Orient edges large->small, then connect every neighbor (and u
    itself) to the minimum label of the oriented neighborhood."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    with_min = _with_neighborhood_min(oriented, salt_buckets)
    nbr_edges = with_min.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edges = with_min.select(F.col("src"), F.col("m").alias("dst"))
    return (
        nbr_edges.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent, overflow-free (ANSI mode safe)
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _union_find_local(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find with min-representative (exact same
    result as the distributed rounds)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in list(parent)}


def unpersist_checkpoints(df: DataFrame) -> None:
    """Free the local checkpoints ``df`` reads: the last star round of
    a distributed component map, or a superseded round itself.
    ``DataFrame.unpersist`` leaves them alone — a local checkpoint is
    a persisted RDD under a ``LogicalRDD`` leaf, not a cached plan.
    Call it once every action over ``df`` has run; a driver-solved
    map reads none, so this is a no-op there."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def connected_components(
    edges: DataFrame,
    driver_threshold: int = 200_000,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """(src, dst) edge list -> (node, component) where component is
    the lexicographically smallest node id in the component.

    Hybrid execution: the ENTITY graph is usually orders of magnitude
    smaller than the mention table (distinct canonical nodes), so when
    the distinct edge count fits under ``driver_threshold`` the
    components are solved with driver-side union-find in one pass —
    saving ~2 shuffles x O(log n) rounds. That map is a local relation
    (``isLocal()``) of at most 2 x ``driver_threshold`` nodes. Larger
    graphs take the distributed large-star/small-star path, whose map
    reads the last round's local checkpoint: the caller frees it with
    :func:`unpersist_checkpoints` once done with the map. Nodes
    appearing only as isolated self-loops should be unioned in by the caller
    (:func:`assign_components` does this).
    """
    spark = edges.sparkSession
    cur = (
        edges.select(F.col("src").cast("string").alias("src"), F.col("dst").cast("string").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # ONE probe job decides the path: limit(threshold+1).collect()
    # stops early on huge graphs and IS the full edge set on small
    # ones — replacing the old localCheckpoint + count + collect
    # triple (three sequential jobs of pure latency on the common
    # entity-graph case, where the distinct edge set is tiny).
    probe = cur.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        # built from an Arrow table, the map plans as a LocalRelation
        # whatever the session's Arrow setting (createDataFrame(list)
        # would plan a LogicalRDD with no size statistics); no edges
        # give an empty map
        comp = _union_find_local([(r["src"], r["dst"]) for r in probe])
        return spark.createDataFrame(pa.table(
            {"node": pa.array(list(comp), pa.string()),
             "component": pa.array(list(comp.values()), pa.string())}
        ))
    cur = cur.localCheckpoint()
    prev_sig = None
    for _ in range(MAX_ITERATIONS):
        done = cur
        cur = _small_star(_large_star(cur, salt_buckets), salt_buckets).localCheckpoint()
        # the eager checkpoint holds the new round: the old one is free
        unpersist_checkpoints(done)
        sig = _signature(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    # At convergence every edge points node -> component root.
    roots = cur.select(F.col("dst").alias("node")).distinct().withColumn("component", F.col("node"))
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def assign_components(
    nodes: DataFrame, edges: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """All nodes -> components; isolated nodes become their own
    component."""
    comp = connected_components(edges, salt_buckets=salt_buckets)
    return (
        nodes.select(F.col("node").cast("string").alias("node"))
        .distinct()
        .join(comp, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
    )


def pagerank(edges: DataFrame, damping: float = 0.85, iterations: int = 3) -> DataFrame:
    """Undirected PageRank by fixed-point iteration — entity salience
    over the co-mention graph (the canonical 'which entities anchor
    the KG' ranking; no reference analog, SURVEY §2.10).

    Pure DataFrame loop: symmetrize once, fold the degree onto each
    edge once, then per iteration exactly one join (rank onto the
    pre-partitioned degree-annotated edges) and one aggregation (sum
    per destination) — the O(iterations) chain Catalyst plans as
    repeated shuffle-on-node, exactly the Pregel data layout. After
    symmetrization every node has degree >= 1 (no dangling mass) and
    every rank is strictly positive ((1-d)/n floor), so the
    contribution aggregate covers EVERY node each round — no
    node-table re-join is needed to keep zero-contribution nodes
    alive. The node count joins in as a broadcast 1-row aggregate so
    the plan stays lazy. For many iterations at scale, checkpoint the
    rank table every few rounds to cut lineage (same doctrine as
    connected_components).

    Returns (node, pr) with pr UNROUNDED — callers hash-compare via
    rank order + rounding appropriate to their tolerance.

    Cluster note: ``localCheckpoint`` pins blocks to executors — on a
    real cluster where executor loss must be survivable, set a
    checkpoint dir and use reliable ``checkpoint()`` instead (one
    line; same plan shape, storage-backed)."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    # cut lineage once: the weighted edge table is referenced by
    # EVERY iteration's join, and without the checkpoint each action
    # replays the whole upstream edge derivation per round (measured
    # 8.4 s -> ~1 s on the sf0.1 co-mention graph). Same doctrine as
    # connected_components' per-round localCheckpoint. The
    # repartition(u) BEFORE the checkpoint is load-bearing:
    # localCheckpoint preserves the physical partitioning in the
    # LogicalRDD, so each iteration's join only shuffles the (tiny)
    # rank side — the edge side never re-shuffles.
    #
    # Single-reference shapes (round 6): symmetrization explodes each
    # edge into both orientations instead of union(e, e.reversed), and
    # the degree attaches as a count window instead of groupBy+join —
    # the union/join forms referenced their upstream subtree twice
    # each, and exchange reuse cannot canonicalize the reversed
    # projection, so the ENTIRE edge derivation (at the driver surface:
    # detection -> per-doc pairs -> distinct) executed twice more
    # inside this one checkpoint job.
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("_uv")
        )
        .select("_uv.u", "_uv.v")
        .distinct()
    )
    # deg rides along raw (NOT pre-inverted): the per-iteration
    # contribution must stay pr/deg, bit-identical to the unrolled
    # SQL oracle — pr*(1/deg) differs in the last ulp.
    w_edges = (
        sym.withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("u")))
        .repartition(F.col("u"))
        .localCheckpoint()
    )
    nodes = w_edges.select(F.col("u").alias("node")).distinct()
    n = nodes.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("pr")
    )
    for _ in range(iterations):
        contrib = (
            w_edges.join(ranks, w_edges["u"] == ranks["node"])
            .select(F.col("v").alias("node"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = contrib.crossJoin(F.broadcast(n)).select(
            "node",
            ((1.0 - damping) / F.col("_n")
             + damping * F.col("c")).alias("pr"),
        )
    return ranks


def cooccurrence_jaccard(sets: DataFrame, items_col: str = "items") -> DataFrame:
    """Pairwise Jaccard similarity of item key-sets over a per-key
    membership table — ONE row per key carrying the key's items as an
    array in ``items_col``: for every item pair sharing >= 1 key,
    ``|keys(a) & keys(b)| / |keys(a) | keys(b)|`` — the
    entity-similarity read-path op over the co-mention graph (two
    entities are similar when they appear in largely the same
    documents; reference analog: the mention<->type co-occurrence
    diagnostics around datautils.py:2439-2527, lifted from
    mention-level counting to set similarity).

    Scale shape: each key's array is normalized in place with
    ``sort_array(array_distinct(...))`` — set semantics, so an item
    repeated in one key's array counts once, and no exchange: the
    caller's rows are already grouped by key. The normalized arrays
    feed both the intersection counts (:func:`ordered_pairs`, then one
    groupBy on the pair) and the per-item set sizes (the arrays
    exploded, one map-side-combined groupBy).
    A key of k items emits k^2/2 pairs and holds its k items in one
    array, so feed CAPPED arrays (the ``entity_jaccard`` query reads
    the same capped per-doc entity set as the ``comention_edges``
    query).
    The two size re-attach joins are UNHINTED equi-joins on the item
    key (the item dimension is corpus-unbounded — AQE broadcasts only
    when runtime stats say it's genuinely small, same doctrine as the
    KG components join). Output is bounded by the pair count of the
    capped membership, not |items|^2.
    """
    sets = sets.select(F.sort_array(F.array_distinct(items_col)).alias("_items"))
    sizes = sets.select(F.explode("_items").alias("item")) \
        .groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ordered_pairs(sets, "_items")
        .groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter
        .join(sizes.select(F.col("item").alias("src"), F.col("n").alias("n_src")), "src")
        .join(sizes.select(F.col("item").alias("dst"), F.col("n").alias("n_dst")), "dst")
        .select(
            "src", "dst", "n_common", "n_src", "n_dst",
            F.round(
                F.col("n_common")
                / (F.col("n_src") + F.col("n_dst") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
