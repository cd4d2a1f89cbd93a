"""Connected components on adversarial graph shapes.

The large/small-star algorithm converges in O(log n) rounds; the worst
case is a long PATH (diameter n), where naive label propagation needs n
rounds.  A power-law star forest stresses the skewed-neighborhood side
(one node with a huge collect_set).  Expected round counts are asserted
so a regression to linear convergence fails loudly instead of timing out
at scale (see PLANS.md).
"""

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from seq2kg_spark.operators.canonicalize import connected_components


def _cc_map(cc_df):
    return {r.node: r.component for r in cc_df.collect()}


def test_long_path_converges_logarithmically(spark):
    # path 0-1-2-...-9999: diameter 10^4, must close in <= 20 rounds
    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    got = _cc_map(connected_components(edges, max_iter=20))
    assert len(got) == n
    assert set(got.values()) == {0}


def test_power_law_components(spark):
    # one giant star (hub 0, 5000 leaves) + many small chains — skewed
    # neighborhood sizes on the groupBy(x) collect_set
    hub = spark.range(1, 5001).select(
        F.lit(0).cast("long").alias("a"), F.col("id").alias("b"))
    chains = spark.range(100).select(
        (F.col("id") * 3 + 10_000).alias("a"),
        (F.col("id") * 3 + 10_001).alias("b"),
    ).unionAll(spark.range(100).select(
        (F.col("id") * 3 + 10_001).alias("a"),
        (F.col("id") * 3 + 10_002).alias("b"),
    ))
    got = _cc_map(connected_components(hub.unionAll(chains), max_iter=20))
    assert sum(1 for c in got.values() if c == 0) == 5001
    # 100 chains of 3 nodes each, component = chain min
    assert sum(1 for c in got.values() if c >= 10_000) == 300
    assert len({c for c in got.values() if c >= 10_000}) == 100


def test_non_convergence_raises(spark):
    # a path cannot reach a fixpoint in one round — the guard must fire
    edges = spark.range(199).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def _union_find_components(pairs):
    """Pure-Python reference: node → min member of its component, over
    the endpoints of every non-self-loop edge (connected_components drops
    self-loops, so a node seen only in a self-loop has no row)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


_LONG_IDS = st.sampled_from(
    [-(2 ** 62), -7, 0, 1, 2, 3, 5, 8, 13, 2 ** 40, 2 ** 62 + 1])
_STRING_IDS = st.text(alphabet="abcxyz", min_size=0, max_size=3)


@st.composite
def _edge_lists(draw):
    """Small random graphs: ids long or string, duplicate edges, both
    orientations of an edge and self-loops all allowed."""
    ids = draw(st.sampled_from([_LONG_IDS, _STRING_IDS]))
    edges = draw(st.lists(st.tuples(ids, ids), min_size=1, max_size=14))
    # re-add some edges reversed and some verbatim
    extra = draw(st.lists(st.sampled_from(edges), max_size=4))
    edges += [(b, a) for a, b in extra] + extra[:2]
    return edges


@given(_edge_lists())
@settings(max_examples=12, deadline=None)
def test_cc_matches_union_find(spark, edges):
    dtype = "long" if isinstance(edges[0][0], int) else "string"
    df = spark.createDataFrame(edges, f"a {dtype}, b {dtype}")
    assert _cc_map(connected_components(df)) == _union_find_components(edges)
