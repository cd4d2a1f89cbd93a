"""Dump formatted physical plans for the headline operators.

Usage: python tools/dump_plans.py <repo_root> <out_dir> <suffix>

Runs against the tree at <repo_root> (so the same script produces
_before plans from an export of an earlier commit and _after plans from
the current tree), writes each plan to <out_dir>/<name>_<suffix>.txt and
the annotated collection to <out_dir>/PLANS_<suffix>.md (PLANS.md at the
repository root is such a collection).  Inputs come from the
scale-factor table directory named by SPARK_GRAFT_SF_DIR (PLANS.md uses
sf0.01) and a generated 300-page corpus.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def _curate_plan(pages):
    from seq2kg_spark.operators.lineage import with_bucket
    from seq2kg_spark.plans.pipeline import curate_stage_fn

    return curate_stage_fn(pages, n_buckets=16)(
        with_bucket(pages, "url", 16))


class _FirstCheckpoint(Exception):
    def __init__(self, df):
        self.df = df


def _cc_round1_plan(E, spark, sf_dir):
    """The plan the first connected-components round checkpoints, over
    the production-default similarity edges (captured, not executed)."""
    from seq2kg_spark.operators import canonicalize as C

    def capture(df):
        raise _FirstCheckpoint(df)

    real = C._tracked_local_checkpoint
    C._tracked_local_checkpoint = capture
    try:
        C.connected_components(
            C.similarity_edges(E.q_kg_mention_norms(spark, sf_dir)))
    except _FirstCheckpoint as hit:
        return hit.df
    finally:
        C._tracked_local_checkpoint = real
    raise RuntimeError("connected_components never checkpointed")


def main() -> None:
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    root, out_dir, suffix = sys.argv[1:4]
    sys.path.insert(0, os.path.abspath(root))
    import __spark_entry__ as E
    from seq2kg_spark.operators.ann import brute_force_topk
    from seq2kg_spark.operators.canonicalize import similarity_edges
    from seq2kg_spark.operators.dedup import minhash_lsh_pairs, simhash64
    from seq2kg_spark.operators.extract import extract_triples
    from seq2kg_spark.session import get_spark
    from seq2kg_spark.sources.pages import ensure_pages_parquet, read_pages

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to a scale-factor table directory")
    spark = get_spark("plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    pages = read_pages(spark, ensure_pages_parquet(spark, n_rows=300))

    def docs():
        return E._t(spark, sf_dir, "documents")

    # name → (annotation, zero-arg function returning the DataFrame)
    plans = {
        "kg_extract_triples": (
            "extract_triples (pages → triples): lang filter pushed to scan, "
            "html column pruned, ONE exchange (salted size-bucketed), clean "
            "chain codegen'd after the shuffle, one MapInPandas",
            lambda: extract_triples(pages, num_partitions=32)),
        "q1_pricing_summary": (
            "q1_pricing_summary: partial agg before exchange (map-side "
            "combine)",
            lambda: E.q_q1_pricing_summary(spark, sf_dir)),
        "q3_top_revenue": (
            "q3_top_revenue: broadcast hash join on the filtered customer "
            "dim, TakeOrderedAndProject instead of a full sort",
            lambda: E.q_q3_top_revenue(spark, sf_dir)),
        "kg_filter_battery": (
            "kg_filter_battery: stopword checks as isin, token arrays bound "
            "once",
            lambda: E.q_kg_filter_battery(spark, sf_dir)),
        "ann_topk_dot": (
            "ann_topk_dot: broadcast nested-loop of the tiny query set, "
            "window for top-k",
            lambda: E.q_ann_topk_dot(spark, sf_dir)),
        "ann_topk": (
            "brute_force_topk (20 queries, k=10): flat int dot product as "
            "one parsed SQL expression",
            lambda: brute_force_topk(
                E._t(spark, sf_dir, "embeddings"),
                query_ids=list(range(20)), k=10)),
        "dedup_minhash_lsh_md5": (
            "dedup_minhash_lsh (md5, oracle form): set-based — per-doc "
            "shingle ARRAY feeds both the banded signatures "
            "(transform+array_min, no explode/min-agg exchange) and the "
            "capped verification sets; window-count hot-bucket cap, one "
            "(band, sig) exchange, in-bucket pair expansion, "
            "array_intersect verify",
            lambda: minhash_lsh_pairs(docs(), n_bands=8, threshold=0.1)),
        "dedup_minhash_lsh_xx64": (
            "dedup_minhash_lsh (xxhash64, scale form): same shape, int64 "
            "verification sets",
            lambda: minhash_lsh_pairs(docs(), n_bands=8, threshold=0.002,
                                      hash_fn="xxhash64")),
        "dedup_simhash64": (
            "dedup_simhash64: packed wide-aggregate bit majority",
            lambda: simhash64(docs())),
        "kg_similarity_edges": (
            "similarity_edges over the kg_mention_norms table (production "
            "defaults, r=4 × 32 bands): "
            "shingle sets persisted once, window-count hot-bucket cap, one "
            "(band, sig) exchange, in-bucket pair expansion — no join keyed "
            "on (band, sig) — then the array_intersect verify joins",
            lambda: similarity_edges(E.q_kg_mention_norms(spark, sf_dir))),
        "cc_round1": (
            "connected_components, first round as checkpointed: each star "
            "reads its input once (both orientations from one explode), so "
            "the similarity-edge plan appears once",
            lambda: _cc_round1_plan(E, spark, sf_dir)),
        "ann_ivf_int": (
            "ann_ivf_int: cell assignment is an ArrowEvalPython matmul over "
            "a once-per-executor broadcast numpy codebook (no plan "
            "literals), probe join broadcasts the 5-query side",
            lambda: E.q_ann_ivf_int(spark, sf_dir)),
        "lsh_bucketed_topk": (
            "lsh_bucketed_topk (float): bucket codes from the same "
            "broadcast matmul (ArrowEvalPython) as the integer variant; "
            "bucket equi-join, never a cross product",
            lambda: E.q_lsh_bucketed_topk(spark, sf_dir)),
        "sessions_batch": (
            "sessions_batch: lag-gap-cumsum over one user-keyed window "
            "partitioning reused by both window functions and the session "
            "aggregation — one exchange on user_id",
            lambda: E.q_sessions_batch(spark, sf_dir)),
        "kg_m4_decode": (
            "kg_m4_decode: one narrow MapInPandas over per-doc token arrays "
            "(no shuffle at all — decode is per-row)",
            lambda: E.q_kg_m4_decode(spark, sf_dir)),
        "curate_stage": (
            "curate_stage_fn (pages → curated): decode-once barrier — lang "
            "filter pushed to scan, ONE html→text decode projection, "
            "WindowGroupLimit prunes map-side before the md5 exchange, "
            "quality gate ABOVE the window on materialized text (FilterExec "
            "does no cross-split subexpression elimination, so a gate below "
            "the projection re-inlines the decode chain per feature), "
            "broadcast-semi bucket filter",
            lambda: _curate_plan(pages)),
    }

    os.makedirs(out_dir, exist_ok=True)
    md = ["# PLANS — formatted physical plans for the headline operators",
          "",
          "Generated by `python tools/dump_plans.py <repo_root> <out_dir> "
          "<suffix>`.",
          "These are the plan shapes asserted by `tests/test_plans.py`; the",
          "annotations are the scale rationale.", ""]
    # machine-independent text: input locations relative to their roots
    roots = {os.path.abspath(sf_dir): "<sf_dir>",
             os.path.abspath(root): "<repo_root>"}
    for name, (title, build) in plans.items():
        plan = plan_of(build())
        for path, tag in roots.items():
            plan = plan.replace(path, tag)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan + "\n")
        print("wrote", path)
        md += [f"## {name} — {title}\n", "```", plan, "```", ""]
    md_path = os.path.join(out_dir, f"PLANS_{suffix}.md")
    with open(md_path, "w") as f:
        f.write("\n".join(md))
    print("wrote", md_path)
    spark.stop()


if __name__ == "__main__":
    main()
