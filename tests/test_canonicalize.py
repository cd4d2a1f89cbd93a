"""Connected components + canonicalization."""

from pyspark.sql import functions as F

from seq2kg_spark.operators.canonicalize import (
    canonicalize,
    connected_components,
    similarity_edges,
    mentions_from_triples,
)
from seq2kg_spark.operators.dedup import lsh_bucket_pairs


def _cc(spark, pairs):
    e = spark.createDataFrame(pairs, "a string, b string")
    return {
        (r.node, r.component)
        for r in connected_components(e).collect()
    }


def test_cc_chain_and_islands(spark):
    got = _cc(spark, [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("x", "x"), ("y", "x")}


def test_cc_two_triangles_bridge(spark):
    pairs = [("a", "b"), ("b", "c"), ("a", "c"),
             ("p", "q"), ("q", "r"), ("p", "r"), ("c", "p")]
    got = _cc(spark, pairs)
    assert {c for _n, c in got} == {"a"}
    assert {n for n, _c in got} == {"a", "b", "c", "p", "q", "r"}


def test_canonicalize_merges_possessive_and_case(spark):
    triples = spark.createDataFrame(
        [
            ("u1", "BYD", "debuted", "E-SEED GT"),
            ("u2", "BYD's", "launched", "Song Pro"),
            ("u3", "byd", "showcased", "Dynasty series"),
            ("u4", "Jamie Oliver", "opened", "Fifteen"),
        ],
        "url string, subj string, pred string, obj string",
    )
    nodes, edges = canonicalize(triples, threshold=0.5)
    nrows = {r.canonical: r for r in nodes.collect()}
    # all three BYD surface forms share one canonical node
    byd = [r for c, r in nrows.items() if "byd" in c.lower()]
    assert len(byd) == 1
    assert set(byd[0].members) >= {"BYD", "BYD's", "byd"}
    assert byd[0].n_mentions == 3
    e = edges.collect()
    assert all(r.weight >= 1 for r in e)
    # every edge endpoint resolves to a node id
    ids = {r.canon_id for r in nodes.collect()}
    assert all(r.src in ids and r.dst in ids for r in e)


def test_similarity_edges_blocking_not_quadratic(spark):
    # distinct unrelated mentions should produce no candidate pairs
    triples = spark.createDataFrame(
        [("u", f"Entity{i:03d} Unrelated{i:03d}", "p", f"Other{i:03d}")
         for i in range(50)],
        "url string, subj string, pred string, obj string",
    )
    m = mentions_from_triples(triples)
    sim = similarity_edges(m, threshold=0.9)
    assert sim.count() == 0


def test_similarity_edges_hot_bucket_guard(spark):
    """The max_bucket skew guard bounds the LSH self-join: with the cap at
    1, every candidate-producing bucket (≥2 members) is dropped, so no
    pairs survive; with the default cap the near-identical mentions pair
    up as before."""
    triples = spark.createDataFrame(
        [("u", f"Globex Corporation {i}", "p", "x") for i in range(8)],
        "url string, subj string, pred string, obj string",
    )
    m = mentions_from_triples(triples)
    assert similarity_edges(m, threshold=0.5).count() > 0
    assert similarity_edges(m, threshold=0.5, max_bucket=1).count() == 0


def _self_join_candidates(sig, max_bucket, flag):
    """The former candidate formulation, kept as the reference: a groupBy
    count for the bucket cap, joined back, then a (band, sig) self-join."""
    bucket_ok = (
        sig.groupBy("band", "sig")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_bucket)
        .select("band", "sig")
    )
    s = sig.join(bucket_ok, ["band", "sig"])
    cand = (
        s.alias("x").join(s.alias("y"), ["band", "sig"])
        .where(F.col("x.norm") < F.col("y.norm"))
    )
    if flag:
        cand = cand.where(F.col("x._new") | F.col("y._new"))
    return cand.select(F.col("x.norm").alias("a"),
                       F.col("y.norm").alias("b")).dropDuplicates(["a", "b"])


def test_bucket_pairs_match_self_join_reference(spark):
    """lsh_bucket_pairs (window cap → collect_list → in-bucket expansion)
    emits exactly the pair set of the former cap-join + self-join shape,
    with buckets over the cap and with the incremental _new flag."""
    import random

    rng = random.Random(3)
    rows = [(f"n{i:02d}", rng.random() < 0.3, band, rng.randrange(5))
            for i in range(60) for band in range(4)]
    sig = spark.createDataFrame(
        rows, "norm string, _new boolean, band int, sig long")
    sizes = [r["n"] for r in
             sig.groupBy("band", "sig").agg(F.count("*").alias("n"))
             .collect()]
    cap = 12
    assert max(sizes) > cap and min(sizes) <= cap   # both kinds of bucket
    for flag in (False, True):
        got = lsh_bucket_pairs(sig, "norm", cap, ("a", "b"),
                               flag_col="_new" if flag else None)
        ref = _self_join_candidates(sig, cap, flag)
        got_set = {tuple(r) for r in got.collect()}
        assert got_set == {tuple(r) for r in ref.collect()}
        assert got.count() == len(got_set) > 0      # distinct pairs
