"""large-star/small-star connected components (xtract/cc.py): exact
parity with a local union-find on both the star rounds and the
driver-side small-graph path, O(log n) round counts on chain graphs
(where min-label propagation needs O(n)), and bounded executor
storage across iterations. The star-round tests set ``SMALL_EDGES``
to 0 so their small graphs take the rounds."""
import pyspark.sql.functions as F
import pytest

from xtract import cc


def _union_find(n_edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a long, b long"
    )


# already converged: every child points at its component minimum, in
# either orientation and with a duplicate
STAR_FOREST = [(1, 0), (0, 2), (3, 0), (3, 0), (11, 10), (10, 12), (21, 20)]


@pytest.fixture()
def star_rounds(monkeypatch):
    """Every non-empty graph takes the star rounds."""
    monkeypatch.setattr(cc, "SMALL_EDGES", 0)


@pytest.mark.parametrize(
    "pairs",
    [
        # two triangles + a bridge-free pair
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)],
        # duplicate + reversed edges, self-contained star
        [(5, 4), (4, 5), (4, 3), (3, 5), (5, 5)],
        # chain of 64 — diameter 63, the propagation worst case
        [(i, i + 1) for i in range(64)],
        STAR_FOREST,
        # a child with two parents: not a star forest
        [(5, 1), (5, 2)],
        # both orientations + duplicates + self-loops (7 is isolated)
        [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3), (3, 2), (7, 7),
         (8, 9), (9, 8), (8, 9)],
    ],
)
def test_cc_matches_union_find(spark, monkeypatch, pairs):
    """On both paths: the star rounds and the driver's union-find."""
    want = _union_find([(a, b) for a, b in pairs if a != b])
    for small_edges in (0, cc.SMALL_EDGES):
        monkeypatch.setattr(cc, "SMALL_EDGES", small_edges)
        labels, _ = cc.connected_components(_edges_df(spark, pairs))
        rows = labels.collect()
        got = {r["node"]: r["rep"] for r in rows}
        assert len(rows) == len(got), small_edges  # one label per node
        assert got == want, small_edges


def test_cc_star_forest_takes_no_round(spark, count_jobs, star_rounds):
    """A converged input is recognized from its shape, with no round
    run to confirm it: generation 0 (dedup shuffle + checkpoint) and
    one star-forest check (grouped + global aggregation)."""
    (_, rounds), jobs = count_jobs(
        lambda: cc.connected_components(_edges_df(spark, STAR_FOREST))
    )
    assert rounds == 0
    assert jobs <= 5, jobs


def test_cc_chain_round_count_logarithmic(spark, star_rounds):
    """A 64-node chain converges in far fewer rounds than its
    diameter — the property that makes the algorithm viable on
    chain-shaped near-dup clusters at scale (min-label propagation
    would need 63 rounds here)."""
    chain = _edges_df(spark, [(i, i + 1) for i in range(64)])
    labels, rounds = cc.connected_components(chain)
    assert rounds <= 10, rounds
    assert labels.where(F.col("rep") != 0).count() == 0  # one component


def test_cc_persisted_storage_bounded(spark, star_rounds):
    """At most two edge generations live in executor storage at any
    point: after convergence the persistent-RDD count returns to
    baseline + a constant, independent of round count."""
    sc = spark.sparkContext
    baseline = len(cc.persistent_ids(sc))
    chain = _edges_df(spark, [(i, i + 1) for i in range(128)])
    labels, rounds = cc.connected_components(chain)
    labels.count()
    after = len(cc.persistent_ids(sc))
    assert rounds >= 3  # enough iterations for growth to show if leaked
    # only the FINAL generation may remain (labels read it lazily);
    # generation 0 and every intermediate must have been released
    assert after - baseline <= 1, (baseline, after, rounds)


def test_cc_small_graph_on_driver(spark, count_jobs):
    """A graph of at most SMALL_EDGES distinct edges is labelled on the
    driver: a 64-chain of string keys takes 0 rounds and a fixed
    number of jobs, the labels keep the key type, and generation 0
    leaves executor storage."""
    sc = spark.sparkContext
    baseline = len(cc.persistent_ids(sc))
    pairs = [(f"s{i:03d}", f"s{i + 1:03d}") for i in range(64)]
    edges = spark.createDataFrame(pairs, "a string, b string")
    (labels, rounds), jobs = count_jobs(lambda: cc.connected_components(edges))
    assert rounds == 0
    assert jobs <= 2, jobs
    assert labels.schema.simpleString() == "struct<node:string,rep:string>"
    assert {r.node: r.rep for r in labels.collect()} == _union_find(pairs)
    assert len(cc.persistent_ids(sc)) == baseline
