"""Mention canonicalization + graph materialization (north-star stage).

triples(url, subj, pred, obj) → canonical ``nodes`` / ``edges`` tables:

1. **Mention extraction**: distinct surface strings from subj/obj.
2. **Blocking**: candidate same-entity pairs via char-shingle MinHash-LSH
   (never a full cross product) + cheap exact rules (case/possessive
   normalization collisions).
3. **Similarity edges**: Jaccard over char 3-grams ≥ threshold.
4. **Connected components**: alternating large-star / small-star iterations
   (Kiveris et al., "Connected Components in MapReduce and Beyond") on an
   edge DataFrame — O(log n) rounds of four shuffles each, with
   ``localCheckpoint`` per round to cut lineage (at 10^12 rows an
   unbounded lineage chain is an OOM, not a nicety).
5. **Canonical naming**: each component's most frequent (then longest,
   then lexicographically smallest) surface form.
6. **Materialize**: ``nodes(canon_id, canonical, members, n_mentions)``,
   ``edges(src, pred, dst, weight)`` — the Iceberg-bound graph tables
   (reference analog: the documented Neo4j LOAD CSV block,
   redcoat_parser/build_triples.py:206-214).

The reference canonicalizes only via per-doc coref (A5/A6); corpus-level
canonicalization is our scale addition (SURVEY.md §7 step 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seq2kg_spark.operators.dedup import lsh_bucket_pairs


# --------------------------------------------------------------------------
# Cache lifetime management.
#
# Everything this module persists (the norm shingle-set .persist() in
# similarity_edges, the per-round localCheckpoints in connected_components,
# the two naming-chain localCheckpoints in canonicalize) is released as
# soon as its last consumer has MATERIALIZED — mid-computation where
# possible, otherwise through a release handle attached to the returned
# DataFrame(s).  Without this, a
# long-lived session calling canonicalize / incremental_assign per batch
# (the streaming use case) accumulates cached blocks per invocation and
# leans on LRU eviction under memory pressure.
#
# localCheckpoint needs special handling: its storage lives on an internal
# JVM RDD that DataFrame.unpersist() does NOT reach, so we snapshot
# sc.getPersistentRDDs() ids around the checkpoint and release by id.  A
# released localCheckpoint CANNOT be recomputed (lineage is truncated), so
# a release handle must only fire after the DataFrame's consumers have
# materialized — which is why the handles are explicit, not a finalizer.
# --------------------------------------------------------------------------


def _release_rdd_ids(spark, ids: list[int]):
    """Unpersist persistent RDDs by id (idempotent; missing ids skipped)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist()


def _tracked_local_checkpoint(df: DataFrame):
    """Eager localCheckpoint + a zero-arg release handle for its blocks.

    The id diff is safe on a single-threaded driver (the only execution
    model this package uses); the handle unpersists exactly the RDDs the
    checkpoint registered."""
    spark = df.sparkSession
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=True)
    new_ids = [i for i in jsc.getPersistentRDDs().keySet().toArray()
               if i not in before]
    return out, (lambda: _release_rdd_ids(spark, new_ids))


def release_caches(*dfs: DataFrame) -> None:
    """Release the caches backing DataFrames returned by this module.

    Call AFTER the DataFrame(s) have been materialized (written, collected
    or counted for the last time): released localCheckpoints cannot be
    recomputed, so a released DataFrame must not be re-evaluated.
    Idempotent."""
    for df in dfs:
        caches = getattr(df, "_canon_caches", [])
        while caches:
            # pop in place: outputs sharing one handle list (canonicalize's
            # nodes/edges) release exactly once between them
            caches.pop()()


# Spelled-out ASCII whitespace class == Java \s exactly.  RE2 (the DuckDB
# twin engine) excludes \x0B from \s, so a bare \s+ here would diverge
# cross-engine on vertical tabs — same seam as repetition.WS_CLASS.
WS_CLASS = "[ \\t\\r\\n\\x0B\\f]"


def normalize_mention(col):
    """Cheap normal form: lower, strip possessives/punct edges, squeeze."""
    c = F.lower(col)
    c = F.regexp_replace(c, "'s$", "")
    c = F.regexp_replace(c, "^[^a-z0-9]+|[^a-z0-9]+$", "")
    return F.regexp_replace(c, WS_CLASS + "+", " ")


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Distinct mention surfaces with frequencies: (mention, norm, freq).

    One scan: subj/obj explode to two mention rows per triple.  (The
    earlier unionAll of two selects read the triples table twice — at 12M
    rows the duplicate scan was measurable, at 100 TB it doubles the
    stage's I/O.)"""
    surfaces = triples.select(
        F.explode(F.array("subj", "obj")).alias("mention"))
    return (
        surfaces.groupBy("mention")
        .agg(F.count("*").alias("freq"))
        .withColumn("norm", normalize_mention(F.col("mention")))
        .where(F.col("norm") != "")
    )


def _char_shingles(col, k: int = 3):
    n = F.length(col)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(col, i, k))
    )


# Hot-bucket cap on the (band, sig) pair expansion; the DuckDB oracle twin
# interpolates this same constant (pattern: dedup.MAX_BUCKET_DEFAULT).
#
# 1k, not 10k: a bucket at the cap costs O(cap²) candidate rows, and on a
# high-cardinality mention table MANY buckets sit at the cap (measured on
# the 500k-page neural path: 4.07M distinct norms → with cap=10k the guard
# still admits ~6.9e8 candidates per 500k-norm sample, max bucket 362k
# wide; cap=1k admits 3.9e6).  True same-entity mention pairs live in
# narrow buckets — a 100k-wide char-shingle bucket is a stop-pattern, not
# an entity cluster.
SIM_MAX_BUCKET_DEFAULT = 1_000

# Band shape default: r=4 rows × 32 bands, NOT the historical r=1 × 6.
# Measured (tools/zipf_recall_study.py, round 7): on the zipf-entity corpus
# (shared real-word vocab, power-law mention frequencies — the realistic
# web-entity shape) r=1 collides every pair sharing ONE hot shingle, the
# cap then drops the flooded buckets wholesale, and same-entity recall
# collapses to 0.47 at 300k norms; r=4/b=32 holds recall ≥0.99 on BOTH
# corpus shapes with 2.3× fewer candidates and half the wall (a bucket
# collision now needs 4 simultaneous min-hash matches, P = jaccard⁴, so
# hot-shingle floods never form and the cap only trims genuine stop
# patterns).  The md5-seam oracle query pins (r=1, b=6) explicitly — the
# historical signature formula the DuckDB twin interpolates.
SIM_BAND_ROWS_DEFAULT = 4
SIM_N_BANDS_DEFAULT = 32


def similarity_edges(
    mentions: DataFrame,
    threshold: float = 0.55,
    n_bands: int = SIM_N_BANDS_DEFAULT,
    k: int = 3,
    max_bucket: int = SIM_MAX_BUCKET_DEFAULT,
    hash_fn: str = "xxhash64",
    new_flag_col: str | None = None,
    cache_registry: list | None = None,
    band_rows: int = SIM_BAND_ROWS_DEFAULT,
    stats: dict | None = None,
) -> DataFrame:
    """Same-entity candidate edges between *normalized* mention strings.

    Exact-norm collisions are free (groupBy); near-miss pairs come from
    banded MinHash over char k-shingles, verified by Jaccard ≥ threshold.
    Returns (a, b) string pairs with a < b.

    The internal ``persist()`` of the norm shingle sets (read by the
    signatures and by both sides of the verify join) backs the returned
    plan lazily, so it cannot be unpersisted here.  Its release handle
    goes into ``cache_registry`` if given (the canonicalize /
    incremental_assign path releases it as soon as the edge set is cut
    from this lineage), else onto the returned DataFrame's
    ``_canon_caches`` for :func:`release_caches` after materialization.

    ``band_rows`` (r): MinHash rows per band.  A (band, sig) bucket
    collides with probability jaccard^r, so r=1 degenerates on
    shared-vocab corpora — every pair sharing ONE hot shingle collides
    somewhere (same failure the dedup module measured at 181.5 M
    candidates on 50k pages) and the hot-bucket cap then DROPS true pairs
    wholesale.  r>1 suppresses low-similarity collisions before the cap
    ever fires (tools/zipf_recall_study.py is the recall/cost evidence
    per (cap, r) on both corpus shapes).  r=1 keeps the historical
    signature formula; the kg_similarity_edges oracle query pins it.

    ``max_bucket`` is the skew guard on the in-bucket pair expansion: a
    (band, sig) bucket of n members emits n² candidate rows, so one hot
    signature (short mentions share few shingles — "inc", "llc", digit
    strings) can go quadratic at web scale.  Buckets over the cap are
    dropped before pairing — their members simply contribute no
    candidates from that band (they usually collide in a calmer band too;
    the exact-norm grouping and the CC transitive closure still connect
    identical and chained mentions).  The cap bounds the expansion at
    O(n_bands · max_bucket²) rows per bucket, never O(|mentions|²).

    Candidates come from :func:`dedup.lsh_bucket_pairs` — the same
    single-exchange window-cap → collect_list → pair-expansion shape as
    ``dedup.minhash_lsh_pairs``, so the signature pipeline is planned
    once.
    """
    if new_flag_col is None:
        norms = mentions.select("norm").distinct()
    else:
        # incremental mode: only pairs touching a NEW norm are candidates —
        # old-old similarity was decided by the previous run and arrives as
        # component star edges (incremental_assign)
        norms = (
            mentions.select("norm", F.col(new_flag_col).alias("_new"))
            .groupBy("norm").agg(F.max("_new").alias("_new"))
        )
    # Mentions are SHORT strings (a few hundred chars max), so the full
    # shingle set of a norm fits in one array cell — never materialize
    # (norm × shingle) or (norm × shingle × band) rows.  The former
    # explode-based formulation shuffled the 116M-row shingle table three
    # times at 500k-page/4M-norm scale (~7 GiB per exchange, >70 GiB of
    # shuffle total, disk-exhausting a 250 GB node); this one's only
    # shuffled rows are the (norm, band, sig) triples and the candidate
    # pairs themselves (same shape as dedup.minhash_lsh_pairs' set-join
    # verification).
    flag = ["_new"] if new_flag_col else []
    norm_sets = norms.select(
        "norm", *flag,
        F.array_sort(_char_shingles(F.col("norm"), k)).alias("shingles"),
    ).persist()
    # Banded min-signatures without exploding shingles: per (norm, band),
    # sig = min over the row's shingle array of hash(band, shingle) — a
    # narrow transform + array_min.  xxhash64 (8-byte ints, JVM-side) is
    # the scale path; md5 hex strings are cross-engine-identical for the
    # DuckDB oracle twin — same seam as dedup.minhash_signatures (string
    # min is lexicographic in both formulations).
    banded = norm_sets.select(
        "norm", *flag, "shingles",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    )
    def _row_min(j):
        # row j of the band: an independent MinHash — seed (band, j)
        if hash_fn == "md5":
            return F.array_min(F.transform(
                F.col("shingles"),
                lambda s: F.md5(F.concat_ws(
                    ":", F.col("band").cast("string"),
                    F.lit(str(j)), s)),
            ))
        return F.array_min(F.transform(
            F.col("shingles"),
            lambda s: F.xxhash64(F.col("band"), F.lit(j), s)))

    if band_rows <= 1:
        # r=1 keeps the historical signature formula (band, shingle) —
        # the kg_similarity_edges DuckDB twin interpolates it
        if hash_fn == "md5":
            h = F.array_min(F.transform(
                F.col("shingles"),
                lambda s: F.md5(F.concat_ws(
                    ":", F.col("band").cast("string"), s)),
            ))
        else:
            h = F.array_min(F.transform(
                F.col("shingles"), lambda s: F.xxhash64(F.col("band"), s)))
    else:
        # r-row band signature: all r row-minima must match for a bucket
        # collision (P = jaccard^r); fold them into one bucket key
        mins = [_row_min(j) for j in range(band_rows)]
        h = (F.md5(F.concat_ws("|", *mins)) if hash_fn == "md5"
             else F.xxhash64(*mins))
    # shingle arrays are never empty, so no signature is NULL and every
    # member lands in a real (band, sig) bucket
    sig = banded.select("norm", *flag, "band", h.alias("sig"))
    cand = lsh_bucket_pairs(sig, "norm", max_bucket, ("a", "b"),
                            flag_col="_new" if new_flag_col else None)
    extra_releases = []
    if stats is not None:
        # telemetry for cap/band tuning studies — costs one extra action
        # (and a persist so the verify join below reuses it), so production
        # callers leave stats=None
        cand = cand.persist()
        stats["n_candidates"] = cand.count()
        extra_releases.append(cand.unpersist)
    # Jaccard verification on per-norm sets: |cand| rows with a vectorized
    # JVM array_intersect each — not a candidates×shingles equi-join.
    a_sets = norm_sets.select(F.col("norm").alias("a"),
                              F.col("shingles").alias("sh_a"),
                              F.size("shingles").alias("n_a"))
    b_sets = norm_sets.select(F.col("norm").alias("b"),
                              F.col("shingles").alias("sh_b"),
                              F.size("shingles").alias("n_b"))
    out = (
        cand.join(a_sets, "a")
        .join(b_sets, "b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .where(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= threshold
        )
        .select("a", "b")
    )
    releases = [norm_sets.unpersist, *extra_releases]
    if cache_registry is not None:
        cache_registry.extend(releases)
    else:
        out._canon_caches = releases
    return out


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint_every: int = 1,
    stats: dict | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components.

    ``edges``: (a, b) — any orientation, any dtype with total order.
    Returns (node, component) with component = min member of the component.

    Each round is four shuffles over the edge set (a groupBy and a
    dropDuplicates per large-star and per small-star), and each star reads
    its input once; convergence in O(log n) rounds.  ``localCheckpoint``
    truncates lineage so round k+1's plan doesn't embed rounds 1..k
    (mandatory at scale).

    Cache lifetime: round k's checkpoint blocks are released as soon as
    round k+1's checkpoint has materialized (previously every round's edge
    snapshot stayed resident for the whole loop).  The FINAL round's blocks
    back the returned mapping lazily, so their release handle goes into
    ``cache_registry`` if given, else onto the result's ``_canon_caches``
    (:func:`release_caches` after materialization).
    """
    spark = edges.sparkSession
    # undirected, deduped, self-loops dropped
    e = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .dropDuplicates(["u", "v"])
    )

    def star(df: DataFrame, large: bool) -> DataFrame:
        # neighborhoods of each node: both orientations from ONE read of
        # df (a unionAll of two selects would plan the whole upstream twice
        # per star, four times per round)
        nbrs = df.select(F.explode(F.array(
            F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
            F.struct(F.col("v").alias("x"), F.col("u").alias("y")),
        )).alias("p")).select("p.x", "p.y")
        grouped = nbrs.groupBy("x").agg(F.collect_set("y").alias("ys"))
        if large:
            # large-star(x): m = min(N(x) ∪ {x}); link every LARGER
            # neighbor to m
            pairs = (
                grouped.withColumn(
                    "m", F.array_min(F.array_union("ys", F.array("x")))
                )
                .select("x", "m", F.explode("ys").alias("y"))
                .where(F.col("y") > F.col("x"))
            )
        else:
            # small-star(x): S = smaller neighbors; m = min(S ∪ {x});
            # link every node of S ∪ {x} (except m itself) to m
            pairs = (
                grouped.withColumn(
                    "ys_small",
                    F.filter("ys", lambda y: y < F.col("x")),
                )
                .where(F.size("ys_small") > 0)
                .withColumn("m", F.array_min("ys_small"))
                .select(
                    "m",
                    F.explode(
                        F.array_union("ys_small", F.array("x"))
                    ).alias("y"),
                )
            )
        out = (
            pairs.select(
                F.least(F.col("y"), F.col("m")).alias("u"),
                F.greatest(F.col("y"), F.col("m")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )
        return out

    prev_hash = None
    converged = False
    prev_release = None
    final_release = None
    for i in range(max_iter):
        e = star(e, large=True)
        e = star(e, large=False)
        if checkpoint_every and (i % checkpoint_every == 0):
            e, rel = _tracked_local_checkpoint(e)
            if prev_release is not None:
                # the new checkpoint is materialized and lineage-cut, so
                # the previous round's snapshot has no remaining consumer
                prev_release()
            prev_release = final_release = rel
        h = (
            e.agg(
                F.count("*").alias("n"),
                # bit_xor: order-insensitive, cannot overflow (ANSI mode)
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).collect()[0]
        )
        cur = (h["n"], h["h"])
        if stats is not None:
            stats["cc_rounds"] = i + 1
            stats["cc_edges"] = h["n"]
        if cur == prev_hash:
            converged = True
            break
        prev_hash = cur
    if not converged:
        # A non-fixpoint edge set is NOT a star forest; min(component) would
        # silently return a wrong mapping. Fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds; raise max_iter"
        )

    comp = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = comp.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )
    if final_release is not None:
        if cache_registry is not None:
            cache_registry.append(final_release)
        else:
            out._canon_caches = [final_release]
    return out


def canonicalize(
    triples: DataFrame,
    threshold: float = 0.55,
    n_bands: int = SIM_N_BANDS_DEFAULT,
    stats: dict | None = None,
    max_bucket: int = SIM_MAX_BUCKET_DEFAULT,
    band_rows: int = SIM_BAND_ROWS_DEFAULT,
) -> tuple[DataFrame, DataFrame]:
    """triples → (nodes, edges) canonical graph tables.

    ``stats`` (optional dict) is filled with convergence telemetry:
    ``cc_rounds`` / ``cc_edges`` from the large/small-star loop and
    ``distinct_mentions`` — the scale drivers a cluster operator watches.
    ``max_bucket`` is the LSH hot-bucket cap, ``n_bands``/``band_rows``
    the banded-MinHash shape (similarity_edges).

    Cache lifetime: the mentions cache, the similarity-edge persists and
    every CC round snapshot are released BEFORE this returns (the eager
    naming-chain checkpoint is the last consumer of all of them).  The two
    checkpoints that back the returned ``nodes``/``edges`` lazily carry a
    shared release handle — call :func:`release_caches` on either output
    after writing both.
    """
    upstream: list = []
    mentions = mentions_from_triples(triples).cache()
    sim = similarity_edges(mentions, threshold=threshold, n_bands=n_bands,
                           max_bucket=max_bucket, band_rows=band_rows,
                           cache_registry=upstream)
    comp = connected_components(sim, stats=stats, cache_registry=upstream)
    if stats is not None:
        stats["distinct_mentions"] = (
            mentions.select("norm").distinct().count())
    # every norm gets a component; singletons map to themselves
    norm_comp = (
        mentions.select("norm").distinct()
        .join(comp, F.col("norm") == F.col("node"), "left")
        .select(
            "norm", F.coalesce("component", F.col("norm")).alias("component")
        )
    )
    # One row per mention surface.  localCheckpoint (same lineage-cut budget
    # as the CC rounds) because FIVE downstream subtrees reference it — the
    # canon window, nodes, and both edge-side maps; without the cut each
    # write action re-runs the mentions→components join chain from scratch
    # (measured: the 500k-page canonicalize stage spent most of its 179 s
    # recomputing this naming chain per action).
    m, m_release = _tracked_local_checkpoint(mentions.join(norm_comp, "norm"))
    # m is materialized and lineage-cut: the mentions cache, similarity
    # persists and the final CC snapshot have no remaining consumers
    mentions.unpersist()
    for rel in upstream:
        rel()
    # canonical surface: most frequent, then longest, then lexicographic
    w = Window.partitionBy("component").orderBy(
        F.desc("freq"), F.desc(F.length("mention")), F.asc("mention")
    )
    named = m.withColumn("rnk", F.row_number().over(w))
    canon = named.where(F.col("rnk") == 1).select(
        "component", F.col("mention").alias("canonical")
    )
    nodes = (
        m.join(canon, "component")
        .groupBy("component", "canonical")
        .agg(
            F.array_sort(F.collect_set("mention")).alias("members"),
            F.sum("freq").cast("long").alias("n_mentions"),
        )
        .withColumn("canon_id", F.xxhash64("component"))
        .select("canon_id", "canonical", "members", "n_mentions")
    )
    # Referenced twice (subject and object side of the triples join) and by
    # a separate write action — checkpoint so the window + join above run
    # once, and AQE sees a concrete (small) size and broadcasts it into the
    # big triples join instead of shuffling 2×|triples| rows.
    mention_to_canon, mtc_release = _tracked_local_checkpoint(
        m.join(canon, "component").select(
            F.col("mention"), F.xxhash64("component").alias("canon_id"),
            F.col("canonical"),
        ).dropDuplicates(["mention"])
    )
    s_map = mention_to_canon.select(
        F.col("mention").alias("subj"),
        F.col("canon_id").alias("src"),
        F.col("canonical").alias("src_name"),
    )
    o_map = mention_to_canon.select(
        F.col("mention").alias("obj"),
        F.col("canon_id").alias("dst"),
        F.col("canonical").alias("dst_name"),
    )
    edges = (
        triples.join(s_map, "subj")
        .join(o_map, "obj")
        .groupBy("src", "src_name", F.col("pred"), "dst", "dst_name")
        .agg(F.count("*").cast("long").alias("weight"))
    )
    # one shared handle list: releasing via EITHER output releases both
    # checkpoints, and release_caches clears the list so the second call
    # is a no-op
    shared = [m_release, mtc_release]
    nodes._canon_caches = shared
    edges._canon_caches = shared
    return nodes, edges


def incremental_assign(
    old_assign: DataFrame,
    new_mentions: DataFrame,
    threshold: float = 0.55,
    n_bands: int = SIM_N_BANDS_DEFAULT,
    max_bucket: int = SIM_MAX_BUCKET_DEFAULT,
    hash_fn: str = "xxhash64",
    stats: dict | None = None,
    band_rows: int = SIM_BAND_ROWS_DEFAULT,
) -> DataFrame:
    """Incremental component assignment for an append-only mention stream.

    ``old_assign`` is a previous run's (norm, component) table (component
    = min norm of the component); ``new_mentions`` any DataFrame with a
    ``norm`` column (e.g. :func:`mentions_from_triples` of the new day's
    triples).  Returns the merged (norm, component) assignment.

    Why this is cheap: similarity is pairwise and components are the
    transitive closure, so ``closure(all edges) == closure(old-component
    STAR edges ∪ edges touching a new norm)`` — the old stars span
    exactly the old components (which ARE the closure of the old-old
    edges).  Old norms are re-signatured (narrow, linear CPU) but
    **old-old pairs are never re-candidated or re-verified** — the
    O(N_old²-shaped) part of the work is skipped; only new-new and
    new-old pairs run the Jaccard verify.

    Semantics note: equality with a from-scratch recompute is exact as
    long as the hot-bucket cap decisions don't change between runs (a
    bucket crossing ``max_bucket`` only because of newly added norms
    drops pairs a full recompute would also drop, but cannot retract an
    old merge).  In general the result is the union-closure of per-batch
    decisions — the desirable monotone semantics for an append-only
    pipeline: growth never un-merges an entity.

    Cache lifetime (the repeated-invocation path — this runs per batch in
    a long-lived session): the similarity persists and all intermediate CC
    snapshots are released before this returns; the final CC snapshot backs
    the returned mapping lazily, so it carries the release handle — call
    :func:`release_caches` on the result after materializing it.
    """
    old_norms = (
        old_assign.select("norm").distinct()
        .withColumn("is_new", F.lit(False))
    )
    new_only = (
        new_mentions.select("norm").distinct()
        .join(old_norms.select("norm"), "norm", "left_anti")
        .withColumn("is_new", F.lit(True))
    )
    all_norms = old_norms.unionByName(new_only)
    if stats is not None:
        stats["n_new_norms"] = new_only.count()
    sim_caches: list = []
    sim = similarity_edges(
        all_norms, threshold=threshold, n_bands=n_bands,
        max_bucket=max_bucket, hash_fn=hash_fn, new_flag_col="is_new",
        band_rows=band_rows, cache_registry=sim_caches,
    )
    stars = (
        old_assign.where(F.col("norm") != F.col("component"))
        .select(F.col("component").alias("a"), F.col("norm").alias("b"))
    )
    cc_caches: list = []
    comp = connected_components(sim.unionByName(stars), stats=stats,
                                cache_registry=cc_caches)
    # CC's first checkpoint cut the lineage from sim, and connected_
    # components has materialized past it — the similarity persists have
    # no remaining consumers
    for rel in sim_caches:
        rel()
    out = (
        all_norms.select("norm")
        .join(comp, F.col("norm") == F.col("node"), "left")
        .select(
            "norm",
            F.coalesce("component", F.col("norm")).alias("component"),
        )
    )
    out._canon_caches = cc_caches
    return out
