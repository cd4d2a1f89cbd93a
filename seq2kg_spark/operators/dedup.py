"""Deduplication operators for web-scale training-data pipelines.

Five families, all DataFrame-native:

* exact            — md5(text) hash-groupBy (one shuffle on the hash).
* ngram Jaccard    — word-3-shingle set overlap within a blocking key.
* MinHash + LSH    — banded min-signature bucketing → candidate pairs →
                     Jaccard verification.  The oracle-parity variant uses
                     ``md5`` (identical hex in Spark and DuckDB); the scale
                     variant uses ``xxhash64`` (8 bytes, JVM-side, no hex
                     strings to shuffle).
* SimHash          — bitwise majority signature; 16-bit md5-nibble variant
                     (cross-engine exact) and 64-bit xxhash64 variant.
* embedding cosine — quantized-integer dot product near-dup pairs (exact
                     arithmetic → deterministic across engines).

Scale notes: every operator blocks before it pairs — LSH bands or an
explicit ``block_col`` — so the self-join never goes quadratic in corpus
size, only in bucket size.  AQE's skew-join split handles hot buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_text_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("text_md5", F.md5(F.col(text_col)))


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row per distinct text: keeper id (min), duplicate count."""
    return (
        with_text_md5(df, text_col)
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array<string> (JVM higher-order fns).

    The token array is BOUND once via a single-element ``transform`` before
    the per-index lambda runs: referencing ``toks`` directly inside
    ``transform(idx, ...)`` would re-inline (and re-evaluate) the whole
    split+filter expression per shingle index — Catalyst does no CSE across
    lambda boundaries.  Measured 16.9s -> 2.3s on 50k sf1.0 docs for
    identical output.  The wrapper costs one 1-element array allocation per
    row; ``element_at(..., 1)`` unwraps it.
    """
    toks = F.filter(F.split(text_col, " "), lambda w: w != F.lit(""))

    def _shingles_of(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (k - 1), F.lit(1)))
        # concat_ws over try_element_at instead of array_join(slice(...)):
        # no per-shingle slice-array allocation (measured 2.2s -> 1.65s at
        # sf1.0, identical output).  try_element_at (not element_at): for
        # docs shorter than k the tail indices run past the array, which
        # is an ERROR under ANSI mode; null elements are skipped by
        # concat_ws exactly like the short slice was.
        return F.transform(idx, lambda i: F.concat_ws(
            " ", *[F.try_element_at(tk, i + j) for j in range(k)]))

    return F.element_at(F.transform(F.array(toks), _shingles_of), 1)


def shingle_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the build side of every similarity op.

    Dedup happens inside the array (``array_distinct``) BEFORE the explode:
    the dedup key contains doc_id, so a shuffle-based dropDuplicates would
    be pure waste — this keeps the whole stage narrow.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).alias("shingle"),
    )


# Shingle document-frequency cap: a word-k-gram shared by df documents
# fans the equi-join out by df² rows, so one stop-phrase ("click here to",
# a boilerplate footer gram) goes quadratic at web scale.  Shingles with
# df > cap are dropped before the join; the DuckDB oracle twin interpolates
# this same constant so the `approx` flag can never silently drift from it.
MAX_DF_DEFAULT = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    threshold: float = 0.5,
    k: int = 3,
    max_df: int = MAX_DF_DEFAULT,
) -> DataFrame:
    """Near-dup pairs by word-k-gram Jaccard, blocked to avoid O(n²).

    Relational formulation (works identically in any SQL engine):
    inter = |shingles(a) ∩ shingles(b)| via equi-join on shingle;
    union = |a| + |b| - inter.

    ``max_df`` is the skew guard on the shingle equi-join: shingles whose
    document frequency (within the blocking key, when blocked) exceeds the
    cap are dropped BEFORE the join, bounding its fan-out at
    O(max_df²) rows per shingle instead of O(|corpus|²) for one hot
    stop-gram.  Per-doc sizes stay TRUE sizes, so dropping only biases
    jaccard DOWN — and only for pairs whose overlap includes stop-shingles
    (a pair overlapping *solely* in stop-shingles is never emitted, which
    is the point of the cap).  Pairs where either side contains a capped
    shingle are flagged ``approx = true``; on corpora where no shingle
    reaches the cap — the entire oracle corpus — results are exact with
    ``approx = false`` everywhere.
    """
    sh = shingle_table(df, id_col, text_col, k)
    if block_col:
        blocks = df.select(F.col(id_col).alias("doc_id"),
                           F.col(block_col).alias("block"))
        sh = sh.join(blocks, "doc_id")
    df_keys = ["shingle"] + (["block"] if block_col else [])
    # shingle_table is distinct per doc, so count(*) per key IS the df.
    # The hot set is tiny by construction (only stop-grams cross a 10k
    # cap) — AQE sees its runtime size and broadcasts the marker join.
    hot = (
        sh.groupBy(*df_keys)
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_df)
        .select(*df_keys)
        .withColumn("_hot", F.lit(True))
    )
    marked = sh.join(hot, df_keys, "left")
    sizes = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.max(F.coalesce("_hot", F.lit(False))).alias("_has_hot"),
    )
    cold = marked.where(F.col("_hot").isNull()).select("doc_id", *df_keys)
    a = cold.select(F.col("doc_id").alias("doc_a"), *df_keys)
    b = cold.select(F.col("doc_id").alias("doc_b"), *df_keys)
    inter = (
        a.join(b, df_keys)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("n_a"),
                      F.col("_has_hot").alias("_hot_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_shingles").alias("n_b"),
                      F.col("_has_hot").alias("_hot_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .withColumn("approx", F.col("_hot_a") | F.col("_hot_b"))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard", "approx")
    )


def minhash_signatures(
    sh: DataFrame, n_bands: int = 8, hash_fn: str = "md5"
) -> DataFrame:
    """(doc_id, band, sig): banded 1-row MinHash.

    ``hash_fn='md5'`` → cross-engine-exact hex strings (oracle parity);
    ``hash_fn='xxhash64'`` → 64-bit ints, the 100 TB path (no hex
    materialization, half the shuffle bytes).
    """
    bands = F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band")
    salted = sh.select("doc_id", "shingle", bands)
    if hash_fn == "md5":
        h = F.md5(F.concat_ws(":", F.col("band").cast("string"), F.col("shingle")))
    else:
        h = F.xxhash64(F.col("band"), F.col("shingle"))
    return (
        salted.withColumn("h", h)
        .groupBy("doc_id", "band")
        .agg(F.min("h").alias("sig"))
    )


def _named_lambda(name: str, body):
    """Single-arg higher-order-function lambda with an EXPLICIT variable
    name.  PySpark derives the SQL lambda-variable name from the Python
    parameter name, so two lambdas that share a parameter name inside one
    projection mis-bind — results are wrong AND vary run to run (minimal
    repro pinned in tests/test_dedup_cap.py).  Every multi-lambda
    projection in this module routes through here."""
    return eval(f"lambda {name}: body({name})", {"body": body})


# Default per-doc verification-set cap; the DuckDB oracle twin interpolates
# this same constant so the `approx` flag can never silently drift from it.
MAX_SHINGLES_DEFAULT = 2048

# (band, sig) hot-bucket cap for the LSH self-join: a bucket of n members
# emits n² candidate rows, so one hot signature (template pages, empty or
# boilerplate-identical docs) goes quadratic at web scale.  Buckets over
# the cap are dropped before the join — same guard, same constant shape as
# canonicalize.similarity_edges; the oracle twin interpolates it.
MAX_BUCKET_DEFAULT = 10_000


def lsh_bucket_pairs(
    sig: DataFrame,
    id_col: str,
    max_bucket: int,
    out_cols: tuple[str, str],
    flag_col: str | None = None,
) -> DataFrame:
    """Distinct in-bucket candidate pairs of a banded-signature table.

    ``sig`` has one row per (member, band): ``id_col``, ``band``, ``sig``
    (and ``flag_col``).  Returns ``out_cols`` = (a, b) with a < b for every
    two members sharing a (band, sig) bucket of at most ``max_bucket``
    members; with ``flag_col`` only pairs where either side is flagged
    (the incremental new-member mode of canonicalize.similarity_edges).

    One (band, sig) exchange, and ``sig`` is read once: window-count cap →
    groupBy → collect_list → in-bucket pair expansion → dropDuplicates.
    (A cap join-back + (band, sig) self-join plans the upstream signature
    pipeline three times and pays three exchanges.)  The cap is a window
    COUNT applied BEFORE the collect_list, so a hot bucket is dropped
    without materializing its member list in an aggregation buffer (the
    window exec buffers through a spillable sorter; collect-then-filter
    would be executor OOM bait, and measured slower at sf1.0: 8.6s vs
    7.3s).  Pair expansion is bounded at O(n_bands · max_bucket²) rows,
    never O(|members|²) for one hot signature.
    """
    wb = Window.partitionBy("band", "sig")
    members = [id_col] + ([flag_col] if flag_col else [])
    buckets = (
        sig.withColumn("_n", F.count("*").over(wb))
        .where(F.col("_n") <= max_bucket)
        .groupBy("band", "sig")
        .agg(F.collect_list(F.struct(*members)).alias("ms"))
    )
    ms = F.col("ms")
    a_col, b_col = out_cols

    def keep(a, b):
        ok = b[id_col] > a[id_col]
        return ok & (a[flag_col] | b[flag_col]) if flag_col else ok

    pair_arr = F.flatten(F.transform(
        ms,
        lambda a: F.transform(
            F.filter(ms, lambda b: keep(a, b)),
            lambda c: F.struct(a[id_col].alias(a_col),
                               c[id_col].alias(b_col)),
        ),
    ))
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(f"p.{a_col}", f"p.{b_col}")
        .dropDuplicates([a_col, b_col])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    threshold: float = 0.5,
    k: int = 3,
    hash_fn: str = "md5",
    max_shingles: int = MAX_SHINGLES_DEFAULT,
    max_bucket: int = MAX_BUCKET_DEFAULT,
    band_rows: int = 1,
) -> DataFrame:
    """MinHash/LSH near-dup detection: shingle → banded min-sig → bucket
    join → Jaccard verify.  Output: (doc_a, doc_b, jaccard ≥ threshold).

    ``max_shingles`` bounds the per-doc verification set (kept in sorted
    order, deterministic) so a pathological multi-megabyte page cannot blow
    up the set-join row width at 100 TB; docs under the cap — the entire
    oracle corpus — are verified exactly (``approx = false``).  When either
    side was truncated the reported jaccard is the prefix-set (bottom-k
    style) ESTIMATE |A_k∩B_k|/|A_k∪B_k| — both sides keep the same sorted
    prefix, so heavy overlap still surfaces — and the pair is flagged
    ``approx = true`` (two over-cap docs differing only past the cap can
    estimate 1.0; the flag makes that visible instead of silently exact).

    ``max_bucket`` caps the (band, sig) bucket width fed to the candidate
    self-join — see :data:`MAX_BUCKET_DEFAULT`.

    ``band_rows`` (r) is the LSH sharpness knob: a band's signature is the
    combination of r independent min-hashes, so two docs collide in a band
    with probability jaccard^r.  The default r=1 is the recall-oriented
    setting the low-threshold driver oracle uses (P(collide) = jaccard —
    fine for small corpora and threshold 0.002 recall sweeps), but it is
    WRONG at web scale for real dedup thresholds: long documents over a
    shared vocabulary almost all contain the globally-minimal shingle, so
    1-row bands degenerate toward a full cross product (measured: 50k
    synthetic pages → 181.5M candidate pairs at r=1 vs ~exact-dup-only at
    r=4).  For threshold≈0.5 dedup use r=4, n_bands=8: P(candidate) =
    1-(1-s⁴)⁸ ≈ 0.40 at s=0.5, 0.997 at s=0.9, 0.0008 at s=0.1.
    """
    # Set-based formulation: the distinct-shingle ARRAY (the source of
    # both the signatures and the verification set) is built once per row
    # and never exploded — all n_bands signatures are computed in ONE
    # projection (an array over the band sequence, posexploded after), so
    # the only shuffled rows in the whole operator are the (doc, band, sig)
    # triples, the candidate pairs, and the capped verification sets.
    #
    # Candidate generation is lsh_bucket_pairs (one (band, sig) exchange
    # before dropDuplicates) — measured 35s → 20s at sf1.0 against the
    # former self-join shape (99s → 20s including the word_shingles
    # lambda-binding fix), with bit-identical pairs on both hash paths.
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    sh = F.col("sh")
    if hash_fn == "md5":
        if band_rows == 1:
            # oracle-parity form: min over md5("band:shingle")
            def _sig_of(b):
                return F.array_min(F.transform(
                    sh,
                    lambda s: F.md5(F.concat_ws(":", b.cast("string"), s)),
                ))
        else:
            def _sig_of(b):
                minima = [
                    F.array_min(F.transform(
                        sh,
                        _named_lambda(f"mh{j}", lambda s, jj=j, bb=b: F.md5(
                            F.concat_ws(":", bb.cast("string"),
                                        F.lit(str(jj)), s))),
                    ))
                    for j in range(band_rows)
                ]
                return F.concat_ws("|", *minima)
    else:
        if band_rows == 1:
            def _sig_of(b):
                return F.array_min(F.transform(
                    sh, lambda s: F.xxhash64(b, s)))
        else:
            def _sig_of(b):
                minima = [
                    F.array_min(F.transform(
                        sh,
                        _named_lambda(f"xh{j}", lambda s, jj=j, bb=b:
                                      F.xxhash64(bb * band_rows + F.lit(jj),
                                                 s)),
                    ))
                    for j in range(band_rows)
                ]
                return F.xxhash64(*minima)
    sigs = F.transform(F.sequence(F.lit(0), F.lit(n_bands - 1)), _sig_of)
    sig = base.select("doc_id", F.posexplode(sigs).alias("band", "sig"))
    # Hot-bucket guard (drop-before-pairing): members of an over-cap bucket
    # contribute no candidates from that band — true near-dups usually
    # collide in a calmer band too, and exact duplicates are dedup_exact's
    # job.
    cand = lsh_bucket_pairs(sig, "doc_id", max_bucket, ("doc_a", "doc_b"))
    # Verification via per-doc shingle SETS + array_intersect: the naive
    # candidates×shingles join explodes to |cand| × avg-shingles rows; the
    # set join is |cand| rows with a vectorized JVM intersect per row, and
    # the doc→set dictionary is join-key-partitioned (broadcast when small).
    #
    # On the scale (non-md5) path the verification sets are xxhash64-coded
    # AFTER the sort+slice, so the compared prefix set is exactly the
    # spec's and int64 intersection replaces string intersection (measured
    # 18.3s → 14s at sf1.0, bit-identical pairs; collision probability over
    # an intersect is ~|cand|·max_shingles²/2⁶⁴ ≈ 1e-9 at 10M pairs).  The
    # md5/oracle path keeps the string sets so the DuckDB twin stays
    # provably bit-exact on any input.
    prefix = F.slice(F.array_sort(F.col("sh")), 1, max_shingles)
    if hash_fn != "md5":
        prefix = F.transform(prefix, lambda s: F.xxhash64(s))
    doc_sets = base.select(
        "doc_id",
        prefix.alias("shingles"),
        F.size("sh").alias("n_true"),
    ).withColumn("n", F.size("shingles"))
    a_sets = doc_sets.select(F.col("doc_id").alias("doc_a"),
                             F.col("shingles").alias("sh_a"),
                             F.col("n").alias("n_a"),
                             F.col("n_true").alias("nt_a"))
    b_sets = doc_sets.select(F.col("doc_id").alias("doc_b"),
                             F.col("shingles").alias("sh_b"),
                             F.col("n").alias("n_b"),
                             F.col("n_true").alias("nt_b"))
    return (
        cand.join(a_sets, "doc_a")
        .join(b_sets, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
        .withColumn(
            "approx",
            (F.col("nt_a") > F.lit(max_shingles))
            | (F.col("nt_b") > F.lit(max_shingles)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard", "approx")
    )


def simhash16(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """16-bit SimHash from md5-nibble parities (cross-engine exact).

    bit_j(word) = parity of hex nibble j of md5(word); doc bit j = majority
    over words.  Output: (doc_id, simhash string of '0'/'1' x 16).
    """
    # One wide aggregation (16 conditional sums) instead of a 16x bit
    # explode + two groupBys: bit j is set iff the majority of words have
    # an odd nibble j, i.e. 2*cnt_j > n_words — identical to the former
    # sum-of-±1 > 0 formulation, with a 16x smaller pre-shuffle row count.
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        ).alias("word"),
    ).withColumn("h", F.md5("word"))
    agg = w.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.when(
                    F.instr(F.lit("13579bdf"), F.substring("h", j + 1, 1)) > 0,
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias(f"c{j}")
            for j in range(16)
        ],
    )
    bit = [
        F.when(F.col(f"c{j}") * 2 > F.col("n"), F.lit("1")).otherwise(F.lit("0"))
        for j in range(16)
    ]
    return agg.select("doc_id", F.concat(*bit).alias("simhash"))


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash via xxhash64 — the scale variant (JVM-side ints,
    SQL-expr bit arithmetic because shift-by-column needs expr())."""
    # One wide aggregation instead of the former 64x bit explode (50k docs
    # x ~54 words x 64 = 173M pre-shuffle rows at sf1.0) + two groupBys.
    # The 64 bit-counters are PACKED two per long (32-bit limbs: bit j in
    # the low half, bit j+32 in the high half), so the aggregate carries 33
    # buffers instead of 65 — the 65-buffer form fell out of whole-stage
    # codegen and its interpreted update loop was the whole cost at small
    # inputs (0.85s → 0.30s at sf0.1, 0.87s → 0.66s at 50k docs, identical
    # output).  A 32-bit limb cannot overflow into its neighbour below 2^31
    # words per doc.  Bit j is set iff 2*cnt_j > n_words, identical to
    # sum-of-±1 > 0; (h >> j) & 1 equals the old (h >> j) % 2 != 0 test for
    # negative hashes too (-1 & 1 == 1).
    #
    # Small inputs arrive as one scan split (a single small parquet file),
    # which serializes the whole explode+aggregate on one core; repartition
    # by doc_id first ONLY in that case — the groupBy reuses the hash
    # partitioning, so it is still one exchange, and at scale (scan already
    # parallel) the text payload is never shuffled at all.
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df
    if df.rdd.getNumPartitions() < par:
        base = df.repartition(2 * par, id_col)
    w = base.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        ).alias("word"),
    ).withColumn("h", F.xxhash64("word"))
    # Expressions are built as SQL strings (one JVM parse each) instead of
    # nested Column calls: the Column form was ~1,500 py4j round-trips and
    # 1.5s of driver time PER INVOCATION — more than the sf0.1 execution
    # itself.  expr parsing is ~35 calls total.
    agg = w.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.expr(
                f"sum((shiftright(h, {j}) & 1) | "
                f"shiftleft(shiftright(h, {j + 32}) & 1, 32))"
            ).alias(f"p{j}")
            for j in range(32)
        ],
    )
    mask = (1 << 32) - 1
    terms = []
    for j in range(32):
        terms.append(
            f"(CASE WHEN (p{j} & {mask}L) * 2 > n "
            f"THEN shiftleft(1L, {j}) ELSE 0L END)"
        )
        terms.append(
            f"(CASE WHEN shiftright(p{j}, 32) * 2 > n "
            f"THEN shiftleft(1L, {j + 32}) ELSE 0L END)"
        )
    total = F.expr(" + ".join(terms))
    return agg.select("doc_id", total.alias("simhash64"))


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1000,
    min_dot: int = 1_000_000,
    block_col: str | None = "label",
) -> DataFrame:
    """Near-dup pairs by quantized-integer dot product (exact arithmetic).

    Quantize each float to round(x*quant) int64, join within ``block_col``
    (or all pairs if None), keep pairs with dot ≥ min_dot.  Integer dot of
    two 64-dim x |x|≤~5000 vectors ≤ 1.6e9 — exact in int64 and in DuckDB's
    double accumulation, so oracle comparison is bit-stable.
    """
    q = emb.select(
        F.col(id_col).alias("vid"),
        *([F.col(block_col).alias("block")] if block_col else []),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * quant, 0).cast("long"),
        ).alias("qv"),
    )
    a = q.select(F.col("vid").alias("id_a"), F.col("qv").alias("qa"),
                 *(["block"] if block_col else []))
    b = q.select(F.col("vid").alias("id_b"), F.col("qv").alias("qb"),
                 *(["block"] if block_col else []))
    pairs = a.join(b, ["block"] if block_col else None, "inner") if block_col \
        else a.crossJoin(b)
    return (
        pairs.where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "dot",
            F.aggregate(
                F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        .where(F.col("dot") >= min_dot)
        .select("id_a", "id_b", "dot")
    )


def minhash_cluster_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    k: int = 3,
    hash_fn: str = "xxhash64",
    band_rows: int = 4,
    verify_threshold: float | None = None,
) -> DataFrame:
    """LINEAR-cost near-dup edges for the retention path: per (band, sig)
    bucket emit member→min-member STAR edges (w−1 rows per bucket) instead
    of the w² candidate pairs.

    Why this exists: a bucket of w near-identical documents (template
    pages, short boilerplate — measured 5,036-wide at r=4 on a 50k-page
    sample, 80.5M all-pairs candidates) is a CLIQUE in the candidate
    graph, and a star spans a clique — so connected components over star
    edges reconstruct exactly the same clusters the all-pairs graph
    yields, at O(Σw) instead of O(Σw²) rows.  ``minhash_lsh_pairs`` keeps
    the all-pairs + Jaccard-verify semantics for when the caller really
    wants scored pairs; THIS is the operator the 100 TB dedup-retention
    policy feeds from.  r=4 bands (see ``band_rows`` in
    :func:`minhash_lsh_pairs`) keep bucket membership precise enough that
    no verification pass is needed for retention decisions; edges are
    (a, b) with a = bucket min, deduplicated across bands.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    banded = base.select(
        "doc_id", "sh",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    )
    # band_rows=1 uses the SAME hash formula as minhash_lsh_pairs so the
    # two operators bucket identically at equal r — CC over star edges
    # then equals CC over the all-pairs candidate graph (pytest-pinned).
    if hash_fn == "md5":
        if band_rows == 1:
            h = F.array_min(F.transform(
                F.col("sh"),
                lambda s: F.md5(F.concat_ws(
                    ":", F.col("band").cast("string"), s))))
        else:
            minima = [
                F.array_min(F.transform(
                    F.col("sh"),
                    _named_lambda(f"cm{j}", lambda s, jj=j: F.md5(
                        F.concat_ws(":", F.col("band").cast("string"),
                                    F.lit(str(jj)), s))),
                ))
                for j in range(band_rows)
            ]
            h = F.concat_ws("|", *minima)
    else:
        if band_rows == 1:
            h = F.array_min(F.transform(
                F.col("sh"), lambda s: F.xxhash64(F.col("band"), s)))
        else:
            minima = [
                F.array_min(F.transform(
                    F.col("sh"),
                    _named_lambda(f"cx{j}", lambda s, jj=j: F.xxhash64(
                        F.col("band") * band_rows + F.lit(jj), s)),
                ))
                for j in range(band_rows)
            ]
            h = F.xxhash64(*minima)
    sig = banded.select("doc_id", "band", h.alias("sig"))
    rep = sig.groupBy("band", "sig").agg(F.min("doc_id").alias("rep"))
    edges = (
        sig.join(rep, ["band", "sig"])
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    if verify_threshold is None:
        return edges
    # LINEAR verification: one array_intersect per star edge (|edges|
    # rows, not |bucket|² — each member is only ever compared to its
    # bucket rep).  Without it CC over raw buckets transitively
    # over-merges on LSH-hot corpora: measured on 500k synthetic
    # shared-vocab pages, unverified r=4 stars chained 490k docs into one
    # component; verified stars keep only true near-dup links.
    sets = base.select(
        "doc_id",
        F.slice(F.array_sort(F.col("sh")), 1,
                MAX_SHINGLES_DEFAULT).alias("ss"),
        F.size("sh").alias("n"),
    )
    a_s = sets.select(F.col("doc_id").alias("a"),
                      F.col("ss").alias("sh_a"), F.col("n").alias("n_a"))
    b_s = sets.select(F.col("doc_id").alias("b"),
                      F.col("ss").alias("sh_b"), F.col("n").alias("n_b"))
    return (
        edges.join(a_s, "a").join(b_s, "b")
        .withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
        .where(
            F.col("_i") / (F.col("n_a") + F.col("n_b") - F.col("_i"))
            >= verify_threshold
        )
        .select("a", "b")
    )
