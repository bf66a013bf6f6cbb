"""Distributed connected components: large-star / small-star.

The alternating star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14 — public algorithm) converges in
O(log n) rounds regardless of component diameter, unlike min-label
propagation whose round count is the component DIAMETER (a chain of
10^6 near-dup pages needs 10^6 propagation rounds but ~20 star
rounds). Each round is two shuffle-by-node aggregations — the shape
that survives a 100× scale-up.

Round hygiene for iterative Spark jobs (the part naive loops get
wrong at scale):

- every round's edge set is ``localCheckpoint(eager=True)``-ed, so
  plan lineage stays one scan deep instead of growing by two
  joins/round (lineage growth eventually stalls the driver's
  optimizer and breaks task serialization);
- the PREVIOUS round's checkpointed RDD is explicitly unpersisted as
  soon as the next round is materialized, so executor storage holds at
  most two generations at any time (asserted in tests/test_cc.py via
  ``getPersistentRDDs``);
- convergence is TESTED, not confirmed: the algorithm's fixpoint is
  exactly a forest of stars whose centers are their components'
  minima, so before each round one grouped aggregation over the
  materialized edges checks that shape directly (every child has one
  out-edge, no parent is also a child). A converged edge set stops
  there, without paying a further round to see that nothing changed.

A graph of at most ``SMALL_EDGES`` distinct edges skips the rounds
and the check: generation 0 is checkpointed lazily, the job that
collects up to ``SMALL_EDGES + 1`` of its edges materializes it, and
a graph that fits is labelled by union-find on the driver. A near-dup
pair graph is usually that small, and every round and check costs
several Spark jobs; a larger graph goes on to the rounds from the
checkpoint the probe filled.

Semantics: input is an undirected edge list (any orientation, dups
fine); output maps every non-isolated node to its component minimum.
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

# largest distinct-edge count labelled on the driver
SMALL_EDGES = 1 << 16
MAX_ROUNDS = 50  # star rounds before a non-converging input raises


def _sym(edges: DataFrame) -> DataFrame:
    """Both orientations of every edge, self-loops dropped."""
    e = edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) symmetric → connect every LARGER neighbor of u to
    m(u) = min(N(u) ∪ {u}). One groupBy(u) + one equi-join back."""
    sym = _sym(edges)
    mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("mv", "u").alias("m")
    )
    # no distinct here: small-star's orient+distinct dedups the round's
    # output anyway, and duplicate edges don't change any min — one
    # fewer shuffle per round
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge (larger → smaller); connect every smaller
    neighbor AND the center to the minimum smaller neighbor."""
    ori = (
        edges.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = ori.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        ori.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    center = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return nbr.union(center).where(F.col("a") != F.col("b")).distinct()


def persistent_ids(sc) -> set[int]:
    """Ids of the RDDs the SparkContext holds persisted."""
    jmap = sc._jsc.getPersistentRDDs()  # noqa: SLF001 — storage audit
    ids: set[int] = set()
    it = jmap.keySet().iterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def unpersist_ids(sc, ids: set[int]) -> None:
    """Unpersist the RDDs of ``ids`` that are still persisted."""
    jmap = sc._jsc.getPersistentRDDs()  # noqa: SLF001
    it = jmap.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        if e.getKey() in ids:
            e.getValue().unpersist()


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the oriented (a > b), duplicate-free edge set is a forest
    of stars: every a has exactly one out-edge and no b is also an a.
    Each b is then the minimum of its star, i.e. of its component —
    the large/small-star fixpoint. One grouped aggregation over the
    union of child and parent roles."""
    roles = edges.select(F.col("a").alias("n"), F.lit(1).alias("child")).union(
        edges.select(F.col("b").alias("n"), F.lit(0).alias("child"))
    )
    per_node = roles.groupBy("n").agg(
        F.sum("child").alias("outs"), F.count("*").alias("deg")
    )
    # a child whose degree exceeds 1 has a second parent or children
    bad = (F.col("outs") > 0) & (F.col("deg") > 1)
    return per_node.agg(F.count_if(bad).alias("bad")).first()["bad"] == 0


def _union_find(edges: list) -> dict:
    """node → component minimum over (a, b) pairs, on the driver. The
    minimum agrees with Spark's ordering: Python orders ints by value
    and str by code point, which is the byte order of their UTF-8."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def connected_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Undirected edge list (a, b) → ((node, rep), rounds) where rep is
    the component minimum. Isolated nodes (no edges) don't appear —
    callers treat absence as a singleton.

    ``rounds`` counts the star rounds that changed the edge set: an
    input that is already a star forest (each pair points at its
    component minimum) takes 0. Every generation is checked for the
    star-forest shape on its materialized edges before the next round
    is planned, so no round is run only to confirm convergence. A
    graph of at most ``SMALL_EDGES`` distinct edges is labelled on
    the driver in 0 rounds (module docstring)."""
    sc = edges.sparkSession.sparkContext
    before = persistent_ids(sc)
    # generation 0: oriented larger → smaller and deduplicated, the
    # shape every later generation has (_large_star symmetrizes anyway)
    cur = (
        edges.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # generation 0 participates in the rotation like every other
    # generation — otherwise it stays pinned in executor storage for
    # the life of the application
    held = persistent_ids(sc) - before
    # the probe's job also fills generation 0's checkpoint
    small = cur.limit(SMALL_EDGES + 1).collect()
    if len(small) <= SMALL_EDGES:
        typ = cur.schema["a"].dataType
        unpersist_ids(sc, held)
        return edges.sparkSession.createDataFrame(
            list(_union_find(small).items()),
            T.StructType([T.StructField("node", typ), T.StructField("rep", typ)]),
        ), 0
    rounds = 0
    while not _is_star_forest(cur):
        if rounds == MAX_ROUNDS:
            raise RuntimeError(f"star CC did not converge in {MAX_ROUNDS} rounds")
        before = persistent_ids(sc)
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        rounds += 1
        # release generation n-1 now that n is materialized
        unpersist_ids(sc, held)
        held = persistent_ids(sc) - before

    # a star forest maps each child to its root; the roots carry no
    # out-edge, so add them back from the parent side. Children are
    # unique and never roots, so the union holds no duplicates. The
    # last generation stays persisted for the caller's lazy reads;
    # job.run releases it after its last sink.
    labels = cur.select(F.col("a").alias("node"), F.col("b").alias("rep"))
    roots = labels.select(F.col("rep").alias("node"), F.col("rep")).distinct()
    return labels.union(roots), rounds
