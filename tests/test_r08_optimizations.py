"""Round-8 optimization equivalence pins.

Each test pins a restructured operator internal against its spec form:
* flat codegen dot products == HOF aggregate forms (int exact, float
  bit-exact via order-preserving left-deep sums), including the
  mismatched-length fallback and the wide-dim cap;
* wide-aggregation simhash64 == per-bit ±1-majority reference;
* batched segmented pooling == per-sentence/per-token pooling loop.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from seq2kg_spark.session import get_spark

    return get_spark("test-r08", cpus=4)


def _vec_rows(rng, n, dim):
    return [
        (i, [float(round(rng.uniform(-2, 2), 3)) for _ in range(dim)])
        for i in range(n)
    ]


def test_int_dot_flat_matches_hof(spark):
    from seq2kg_spark.operators.ann import int_dot, quantized

    rng = np.random.default_rng(7)
    df = spark.createDataFrame(
        [(a, b) for (_, a), (_, b) in zip(_vec_rows(rng, 40, 16),
                                          _vec_rows(rng, 40, 16))],
        "a array<double>, b array<double>",
    ).select(quantized(F.col("a")).alias("qa"),
             quantized(F.col("b")).alias("q b"))
    got = df.select(
        int_dot(F.col("qa"), F.col("q b")).alias("hof"),
        int_dot(F.col("qa"), F.col("q b"), dim=16).alias("flat"),
        # column NAMES take the parsed-SQL form; "q b" needs quoting there
        int_dot("qa", "q b", dim=16).alias("flat_str"),
    ).collect()
    assert all(r["hof"] == r["flat"] == r["flat_str"] for r in got)


def test_int_dot_mismatched_length_falls_back(spark):
    from seq2kg_spark.operators.ann import int_dot

    df = spark.createDataFrame(
        [([1, 2, 3], [4, 5, 6]), ([1, 2], [3, 4])],
        "a array<long>, b array<long>",
    )
    got = df.select(
        int_dot(F.col("a"), F.col("b")).alias("hof"),
        int_dot(F.col("a"), F.col("b"), dim=3).alias("flat"),
    ).collect()
    # equal-length row: flat == hof; short row: flat takes the fallback
    # branch, so the two columns agree row-by-row
    assert all(r["hof"] == r["flat"] for r in got)


def test_wide_dim_uses_hof_form(spark):
    """dim past the cap must not build a giant flat expression (a 768-dim
    left-deep sum StackOverflow'd the executor JVM)."""
    from seq2kg_spark.operators.ann import FLAT_INT_MAX_DIM, int_dot

    dim = FLAT_INT_MAX_DIM + 1
    a = F.array_repeat(F.lit(2).cast("long"), dim)
    df = spark.range(1).select(int_dot(a, a, dim=dim).alias("dot"))
    assert df.collect()[0]["dot"] == 4 * dim


def test_float_cosine_flat_bit_exact(spark):
    from seq2kg_spark.operators.ann import float_cosine

    rng = np.random.default_rng(11)
    df = spark.createDataFrame(
        [(a, b) for (_, a), (_, b) in zip(_vec_rows(rng, 40, 24),
                                          _vec_rows(rng, 40, 24))],
        "a array<double>, `b b` array<double>",
    )
    got = df.select(
        float_cosine(F.col("a"), F.col("b b")).alias("hof"),
        float_cosine(F.col("a"), F.col("b b"), dim=24).alias("flat"),
        float_cosine("a", "b b", dim=24).alias("flat_str"),
    ).collect()
    # left-deep flat sum preserves the fold's accumulation order ⇒ the
    # doubles must be IDENTICAL, not merely close
    assert all(r["hof"] == r["flat"] == r["flat_str"] for r in got)


def test_simhash64_matches_reference(spark):
    from seq2kg_spark.operators.dedup import simhash64

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely here now"),
        (4, "x"),
        (5, "  spaced   out   tokens  "),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash64"] for r in simhash64(df).collect()}

    # per-bit ±1-majority reference using Spark's own xxhash64 values
    words_df = df.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "),
                           lambda x: x != F.lit(""))).alias("w"),
    ).select("doc_id", F.xxhash64("w").alias("h"))
    hashes: dict[int, list[int]] = {}
    for r in words_df.collect():
        hashes.setdefault(r["doc_id"], []).append(r["h"])
    for doc, hs in hashes.items():
        val = 0
        for j in range(64):
            s = sum(1 if (h >> j) & 1 else -1 for h in hs)
            if s > 0:
                val |= 1 << j
        # reinterpret as signed int64 (matches shiftleft(1L, 63) overflow)
        val = np.int64(np.uint64(val))
        assert got[doc] == val, f"doc {doc}: {got[doc]} != {val}"


def test_pool_wordpieces_flat_matches_loop():
    from seq2kg_spark.nlp.gru import (
        pool_wordpieces_flat,
        pool_wordpieces_to_tokens,
    )

    rng = np.random.default_rng(3)
    # two "sentences" of 7 and 5 wordpiece rows, 4 label columns
    flat = rng.standard_normal((12, 4)).astype(np.float32)
    maps = [
        [[0, 1], [2], [], [3, 4, 5, 6]],          # sentence 0 (rows 0..6)
        [[0], [1, 2], [3, 4]],                    # sentence 1 (rows 7..11)
    ]
    offsets = [0, 7]
    row_ids, seg_starts = [], []
    for si, m in enumerate(maps):
        for wp in m:
            seg_starts.append(len(row_ids))
            row_ids.extend(offsets[si] + j for j in wp)
    got = pool_wordpieces_flat(
        flat, np.asarray(row_ids, dtype=np.int64),
        np.asarray(seg_starts, dtype=np.int64),
    )
    want = np.concatenate([
        pool_wordpieces_to_tokens(flat[0:7], maps[0]),
        pool_wordpieces_to_tokens(flat[7:12], maps[1]),
    ])
    # ≤2-wordpiece tokens: bitwise equal (sequential == pairwise there);
    # wider tokens: last-mantissa-bit tolerance (reduceat sums
    # sequentially, ndarray.mean pairwise) — the operator contract is
    # corpus-level decoded-triple identity, pinned on the 50k corpus.
    n_wps = [len(wp) for m in maps for wp in m]
    for j, n in enumerate(n_wps):
        if n <= 2:
            # ≤2 rows: only one possible accumulation order ⇒ bitwise
            assert np.array_equal(got[j], want[j]), j
        else:
            # ≥3 rows: reduceat's SIMD accumulation order differs from
            # ndarray.mean's pairwise order in the last mantissa bit —
            # the operator contract is corpus-level decoded-triple
            # identity, pinned on the full 50k corpus
            assert np.allclose(got[j], want[j], rtol=1e-6, atol=0), j


def test_pool_wordpieces_flat_empty():
    from seq2kg_spark.nlp.gru import pool_wordpieces_flat

    out = pool_wordpieces_flat(
        np.zeros((0, 4), dtype=np.float32),
        np.asarray([], dtype=np.int64),
        np.asarray([], dtype=np.int64),
    )
    assert out.shape == (0, 4)


def test_decode_labels_flat_matches_per_row():
    from seq2kg_spark.nlp.gru import decode_labels, decode_labels_flat

    rng = np.random.default_rng(5)
    labels = [f"L{i}" for i in range(9)]
    for shape in [(0, 9), (1, 9), (37, 9)]:
        logits = (rng.standard_normal(shape) - 0.8).astype(np.float32)
        assert decode_labels_flat(logits, labels) == decode_labels(
            logits, labels)
    # all-on and all-off rows
    logits = np.array([[1.0] * 9, [-1.0] * 9, [0.0] * 9], dtype=np.float32)
    assert decode_labels_flat(logits, labels) == decode_labels(logits, labels)


def test_pool_wordpieces_flat_trailing_empty_segments():
    """Tokens with zero wordpieces at the batch tail (truncated sentences)
    put seg_start == len(row_ids), which is out of range for reduceat —
    regression test for the sf0.01 crash; those rows must come back zero,
    all others identical to the per-token loop."""
    from seq2kg_spark.nlp.gru import (
        pool_wordpieces_flat,
        pool_wordpieces_to_tokens,
    )

    rng = np.random.default_rng(11)
    flat = rng.standard_normal((5, 3)).astype(np.float32)
    # last two tokens have no wordpieces: seg_starts ends with [5, 5]
    maps = [[0, 1], [2], [3, 4], [], []]
    row_ids, seg_starts = [], []
    for wp in maps:
        seg_starts.append(len(row_ids))
        row_ids.extend(wp)
    got = pool_wordpieces_flat(
        flat, np.asarray(row_ids, dtype=np.int64),
        np.asarray(seg_starts, dtype=np.int64),
    )
    want = pool_wordpieces_to_tokens(flat, maps)
    assert np.array_equal(got, want)
    assert np.all(got[3:] == 0.0)
    # degenerate: every segment empty
    got2 = pool_wordpieces_flat(
        flat, np.asarray([], dtype=np.int64),
        np.asarray([0, 0], dtype=np.int64),
    )
    assert got2.shape == (2, 3) and np.all(got2 == 0.0)
