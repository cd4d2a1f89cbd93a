"""The benchmark workloads.

Each workload sets up its inputs from the seed (outside the timed region),
runs one timed *pass* at a time through the program's public entry points,
fingerprints the pass output, and checks it after timing.  In a traced run
it also installs span wrappers around the layers it exercises and turns
the spans and Spark's stage metrics into per-layer numbers.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import Counter

import gen
import kernels
import spans as tr

CHECK_SAMPLE = 24        # pages compared against the single-process kernels


def _ordered(rows) -> list[tuple]:
    return sorted((tuple(_plain(v) for v in r) for r in rows), key=repr)


def _plain(v):
    if isinstance(v, list):
        return tuple(_plain(x) for x in v)
    return v


class Workload:
    name = ""
    #: pages one pass processes (set in setup)
    pages_per_pass = 0
    #: untimed passes at the end of setup
    warm_passes = 1
    #: untraced/traced pass pairs for the tracing overhead
    overhead_pairs = 3
    #: every pass reads the same input, so every pass output must match
    passes_repeat = True

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.corpus_fp = ""
        self.setup_parts: dict[str, float] = {}

    # -- lifecycle ---------------------------------------------------------
    def make_inputs(self) -> None:
        """Generate and write the seeded inputs (no Spark)."""

    def setup(self, spark) -> None:
        """Spark-side preparation and warm-up."""

    def run_pass(self, i: int):
        raise NotImplementedError

    def fingerprint(self, out) -> str:
        raise NotImplementedError

    def check(self, out) -> list[str]:
        """Run-level checks on the last pass's output; returns problems."""
        return []

    # -- tracing -----------------------------------------------------------
    def install_spans(self, tracer: tr.Tracer) -> list:
        return []

    def layer_metrics(self, tracer, root, jobs_by_group, stages, rest
                      ) -> dict:
        """Per-layer numbers of the pass under span ``root``."""
        return {}

    def kernel_metrics(self) -> dict:
        return {}


def _path(work: str, *parts: str) -> str:
    p = os.path.join(work, *parts)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    return p


def span_jobs(tracer, spans, jobs_by_group) -> list[dict]:
    """Jobs submitted under ``spans`` and all their descendants."""
    out = []
    for s in spans:
        for sp in [s, *tracer.descendants(s)]:
            out.extend(jobs_by_group.get(tracer.group_id(sp), []))
    return out


def _busiest_shuffle_stage(metrics: dict) -> dict | None:
    st = [s for s in metrics["stage_list"] if s.get("shuffleReadBytes", 0)]
    return max(st, key=lambda s: s.get("executorRunTime", 0), default=None)


def _skew(rest, stage) -> tuple[float, float]:
    """(max ÷ median task run time, share of tasks that read no rows)."""
    if stage is None:
        return 0.0, 0.0
    tasks = [t for t in rest.tasks(stage)
             if t.get("status") == "SUCCESS"]
    if not tasks:
        return 0.0, 0.0
    runs = [t["taskMetrics"]["executorRunTime"] for t in tasks]
    empty = sum(1 for t in tasks
                if t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"] == 0)
    med = statistics.median(runs)
    return (max(runs) / med if med else 0.0), empty / len(tasks)


# --------------------------------------------------------------------------
# rule_kg — plans.pipeline.run_kg_pipeline(extractor="rule")
# --------------------------------------------------------------------------

class RuleKG(Workload):
    name = "rule_kg"
    profile = gen.Profile(n_pages=400, html_only_share=0.05)
    # resume grain: 4 buckets, so extract runs as one wave of 4
    n_buckets = 4
    # a batch run is a fresh application: its first pass is what users
    # pay (see NOTES.md, warm-up policy)
    warm_passes = 0
    overhead_pairs = 1

    def make_inputs(self):
        self.corpus = gen.make_pages(self.seed, self.profile)
        self.corpus_fp = gen.fingerprint(self.corpus.rows)
        self.pages_path = _path(self.work, "pages", "part-0.parquet")
        gen.write_pages(self.corpus.rows, self.pages_path)
        self.pages_per_pass = len(self.corpus.rows)

    def setup(self, spark):
        from seq2kg_spark.sources.pages import read_pages

        self.spark = spark
        self.pages = read_pages(spark, os.path.dirname(self.pages_path))

    def run_pass(self, i):
        from seq2kg_spark.plans.pipeline import run_kg_pipeline

        wd = os.path.join(self.work, f"kg_{i}")
        shutil.rmtree(wd, ignore_errors=True)
        report = run_kg_pipeline(self.pages, wd, n_buckets=self.n_buckets,
                                 extractor="rule")
        self.last_report = report
        return report

    def _read(self, report, name):
        return self.spark.read.parquet(report["paths"][name])

    def fingerprint(self, report):
        nodes = self._read(report, "nodes").collect()
        edges = self._read(report, "edges").collect()
        triples = self._read(report, "triples").drop("bucket").collect()
        return gen.fingerprint(_ordered(nodes), _ordered(edges),
                               _ordered(triples))

    def check(self, report):
        problems = []
        nodes = self._read(report, "nodes").collect()
        edges = self._read(report, "edges").collect()
        triples = self._read(report, "triples").collect()
        members = Counter(m for n in nodes for m in n["members"])
        dup = [m for m, c in members.items() if c != 1]
        if dup:
            problems.append(f"{len(dup)} mentions in more than one node")
        ids = {n["canon_id"] for n in nodes}
        dangling = [e for e in edges if e["src"] not in ids
                    or e["dst"] not in ids]
        if dangling:
            problems.append(f"{len(dangling)} edges with a missing endpoint")
        if sum(e["weight"] for e in edges) > len(triples):
            problems.append("edge weights exceed the triple count")
        # sampled urls: Spark triples == single-process kernels on the
        # curated text
        curated = {r["url"]: r["text"] for r in
                   self._read(report, "curated").select("url", "text")
                   .collect()}
        rng = random.Random(self.seed)
        sample = rng.sample(sorted(curated), min(CHECK_SAMPLE, len(curated)))
        want = kernels.rule_triples([(u, curated[u]) for u in sample])
        got: dict[str, Counter] = {u: Counter() for u in sample}
        for t in triples:
            if t["url"] in got:
                got[t["url"]][(t["subj"], t["pred"], t["obj"])] += 1
        bad = [u for u in sample if want[u] != got[u]]
        if bad:
            problems.append(f"{len(bad)}/{len(sample)} sampled pages differ "
                            f"from the single-process rule kernels")
        self.last_counts = {"curated": len(curated), "triples": len(triples),
                            "nodes": len(nodes), "edges": len(edges),
                            "mentions": len(members)}
        self.curated_docs = list(curated.items())
        return problems

    def install_spans(self, tracer):
        import seq2kg_spark.plans.pipeline as pipeline

        self._wave_starts: list[float] = []
        orig_stage = pipeline.run_stage_checkpointed

        def stage(inputs, stage_fn, **kw):
            # lineage times each wave from the stage_fn call to the end
            # of its write; remember the call so jobs can be split into
            # wave work and lineage bookkeeping
            def timed_fn(df):
                self._wave_starts.append(time.time())
                return stage_fn(df)
            with tracer.span(kw["stage"]):
                return orig_stage(inputs, timed_fn, **kw)

        pipeline.run_stage_checkpointed = stage
        return [
            lambda: setattr(pipeline, "run_stage_checkpointed", orig_stage),
            tracer.wrap(pipeline, "run_kg_pipeline", "pipeline"),
            tracer.wrap(pipeline, "canonicalize", "canon", tail=True),
        ]

    def layer_metrics(self, tracer, root, jobs_by_group, stages, rest):
        out: dict = {}
        (pipe,) = tracer.children(root)
        kids = {s.name: s for s in tracer.children(pipe)}

        def m(name):
            return tr.group_stage_metrics(
                span_jobs(tracer, [kids[name]], jobs_by_group), stages)

        cur, ext, can = m("curate"), m("extract"), m("canon")
        rows_out = self.last_counts["curated"]
        rows_in = self.pages_per_pass
        out.update({
            "curate.s": kids["curate"].dur,
            "curate.rows_in": rows_in,
            "curate.rows_out": rows_out,
            "curate.drop_ratio": 1 - rows_out / rows_in,
            "curate.shuffle_mb": cur["shuffle_mb"],
        })
        # lineage: stage wall minus the job wall lineage itself records
        lin = sorted(
            (r["committed_at"], r["job_wall_ms"]) for r in
            self.spark.read.parquet(self.last_report["paths"]["lineage"])
            .select("stage", "committed_at", "job_wall_ms").distinct()
            .collect())
        walls = [w / 1e3 for _, w in lin]
        out["lineage.overhead_s"] = (kids["curate"].dur
                                     + kids["extract"].dur - sum(walls))
        out["lineage.waves"] = len(lin)
        starts = self._wave_starts[-len(lin):]
        windows = list(zip(starts, (a + w for a, w in zip(starts, walls))))
        stage_jobs = (span_jobs(tracer, [kids["curate"]], jobs_by_group)
                      + span_jobs(tracer, [kids["extract"]], jobs_by_group))
        out["lineage.jobs"] = sum(
            1 for j in stage_jobs
            if not any(a <= tr.job_submitted(j) <= b for a, b in windows))
        skew, empty = _skew(rest, _busiest_shuffle_stage(ext))
        out["repartition.task_skew"] = skew
        out["repartition.empty_task_ratio"] = empty
        out["extract.s"] = kids["extract"].dur
        out["extract.busy_s"] = ext["busy_s"]
        out["extract.triples"] = self.last_counts["triples"]
        canon = self.last_report["canonical"]
        out.update({
            "canon.s": kids["canon"].dur,
            "canon.jobs": can["jobs"],
            "canon.mentions": canon.get("distinct_mentions", 0),
            "canon.cc_rounds": canon.get("cc_rounds", 0),
            "canon.spill_mb": can["spill_mb"],
        })
        out.update(canon_pairs(self.spark, self._read(self.last_report,
                                                      "triples")))
        stage = _busiest_shuffle_stage(ext)
        self._extract_stage_busy = (stage["executorRunTime"] / 1e3
                                    if stage else 0.0)
        return out

    def kernel_metrics(self):
        clock = kernels.KernelClock(kernels.RULE_KERNELS)
        docs = self.curated_docs
        kernels.rule_triples(docs, clock)
        n = len(docs)
        out = {f"kernel.{k}.cpu_ms_per_doc": v * 1e3 / n
               for k, v in clock.cpu.items()}
        total = sum(clock.cpu.values())
        busy = getattr(self, "_extract_stage_busy", 0.0)
        out["nlp.unattributed_ratio"] = (1 - total / busy) if busy else 0.0
        return out


def canon_pairs(spark, triples) -> dict:
    """Candidate/verified pair counts of the canonicalize LSH blocking,
    recomputed with the stage's defaults (outside timing); pairs the
    hot-bucket cap dropped are the uncapped minus the capped candidates."""
    from seq2kg_spark.operators.canonicalize import (mentions_from_triples,
                                                     similarity_edges)

    stats: dict = {}
    mentions = mentions_from_triples(triples)
    verified = similarity_edges(mentions, stats=stats).count()
    uncapped: dict = {}
    similarity_edges(mentions, stats=uncapped,
                     max_bucket=2 ** 31 - 1).count()
    cand = stats.get("n_candidates", 0)
    return {
        "canon.cand_pairs": cand,
        "canon.verified_ratio": verified / cand if cand else 0.0,
        "canon.hot_bucket_pairs_dropped": uncapped.get("n_candidates", 0)
        - cand,
    }


# --------------------------------------------------------------------------
# neural_extract — operators.tagger_infer.neural_extract_triples over an
# already-curated pages table (the model-refresh re-extraction)
# --------------------------------------------------------------------------

class NeuralExtract(Workload):
    name = "neural_extract"
    # the generator's curated shape: English pages with text, no copies
    profile = gen.Profile(n_pages=800, non_en_share=0.0)
    # the second pass still ran faster than the first in probes
    warm_passes = 2

    def make_inputs(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.corpus = gen.make_pages(self.seed, self.profile)
        self.corpus_fp = gen.fingerprint(self.corpus.rows)
        self.curated_docs = [(r[0], r[3]) for r in self.corpus.rows]
        self.curated_path = _path(self.work, "curated", "part-0.parquet")
        pq.write_table(pa.table({
            "url": [r[0] for r in self.corpus.rows],
            "text": [r[3] for r in self.corpus.rows],
            "lang": [r[4] for r in self.corpus.rows]}), self.curated_path)
        self.pages_per_pass = len(self.curated_docs)

    def setup(self, spark):
        import time as _t

        from seq2kg_spark.nlp.gru import init_weights

        self.spark = spark
        self.curated = spark.read.parquet(os.path.dirname(self.curated_path))
        t = _t.monotonic()
        self.weights = init_weights(dim=64, hidden=64, seed=125)
        self.setup_parts["weights_s"] = _t.monotonic() - t

    def run_pass(self, i):
        from seq2kg_spark.operators.tagger_infer import neural_extract_triples

        out = os.path.join(self.work, f"neural_{i}")
        neural_extract_triples(self.curated, weights=self.weights) \
            .write.mode("overwrite").parquet(out)
        return out

    def fingerprint(self, out):
        return gen.fingerprint(_ordered(self.spark.read.parquet(out)
                                        .collect()))

    def check(self, out):
        rows = self.spark.read.parquet(out).collect()
        rng = random.Random(self.seed)
        urls = sorted(u for u, _ in self.curated_docs)
        sample = set(rng.sample(urls, min(CHECK_SAMPLE, len(urls))))
        want, _ = kernels.neural_triples(
            [d for d in self.curated_docs if d[0] in sample], self.weights)
        got: dict[str, Counter] = {u: Counter() for u in sample}
        for r in rows:
            if r["url"] in got:
                got[r["url"]][(r["subj"], r["pred"], r["obj"],
                               tuple(r["subj_types"]),
                               tuple(r["obj_types"]))] += 1
        self.last_counts = {"triples": len(rows)}
        bad = [u for u in sample if want.get(u, Counter()) != got[u]]
        if bad:
            return [f"{len(bad)}/{len(sample)} sampled pages differ from "
                    f"the single-process neural kernels"]
        return []

    def install_spans(self, tracer):
        import seq2kg_spark.operators.tagger_infer as ti

        # the operator returns a lazy DataFrame that run_pass writes, so
        # its span stays open until the pass ends
        return [tracer.wrap(ti, "neural_extract_triples", "tagger_infer",
                            tail=True)]

    def layer_metrics(self, tracer, root, jobs_by_group, stages, rest):
        (sp,) = tracer.children(root)
        m = tr.group_stage_metrics(span_jobs(tracer, [sp], jobs_by_group),
                                   stages)
        skew, empty = _skew(rest, _busiest_shuffle_stage(m))
        stage = _busiest_shuffle_stage(m)
        self._busy = stage["executorRunTime"] / 1e3 if stage else 0.0
        return {
            "tagger_infer.s": sp.dur,
            "tagger_infer.busy_s": m["busy_s"],
            "tagger_infer.triples": self.last_counts["triples"],
            "repartition.task_skew": skew,
            "repartition.empty_task_ratio": empty,
        }

    def kernel_metrics(self):
        clock = kernels.KernelClock(kernels.NEURAL_KERNELS)
        # Arrow batches as the operator sees them: one per task
        per_task = -(-len(self.curated_docs) // (2 * self.cores))
        _, n_sents = kernels.neural_triples(self.curated_docs, self.weights,
                                            clock=clock, batch=per_task)
        out = {f"kernel.{k}.cpu_ms_per_sentence": v * 1e3 / max(n_sents, 1)
               for k, v in clock.cpu.items()}
        out["tagger_infer.sentences"] = n_sents
        total = sum(clock.cpu.values())
        out["nlp.unattributed_ratio"] = (1 - total / self._busy
                                         if self._busy else 0.0)
        return out


# --------------------------------------------------------------------------
# corpus_ops — operators.dedup (MinHash LSH, SimHash64) and
# operators.ann.brute_force_topk
# --------------------------------------------------------------------------

MINHASH = dict(n_bands=32, band_rows=4, threshold=0.5, hash_fn="xxhash64")
TOPK = 10
N_QUERIES = 32


def word_shingle_set(text: str, k: int = 3) -> set[str]:
    """Python twin of ``operators.dedup.word_shingles`` (distinct)."""
    toks = [w for w in text.split(" ") if w != ""]
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def exact_topk(ids, vecs, query_ids, k: int, quant: int = 1000):
    """Exact integer-dot top-k in numpy with the operator's quantization
    (round half away from zero) and tie order (dot desc, id asc)."""
    import numpy as np

    q = np.sign(vecs) * np.floor(np.abs(vecs) * quant + 0.5)
    q = q.astype(np.int64)
    pos = {v: i for i, v in enumerate(ids)}
    out = {}
    for qid in query_ids:
        dots = q @ q[pos[qid]]
        order = sorted((i for i in range(len(ids)) if ids[i] != qid),
                       key=lambda i: (-dots[i], ids[i]))[:k]
        out[qid] = [(r + 1, ids[i], int(dots[i]))
                    for r, i in enumerate(order)]
    return out


class CorpusOps(Workload):
    name = "corpus_ops"
    profile = gen.Profile(n_pages=600, non_en_share=0.0,
                          near_dup_share=0.05)

    def make_inputs(self):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.corpus = gen.make_pages(self.seed, self.profile)
        rows = self.corpus.rows
        self.texts = {r[0]: r[3] for r in rows}
        self.emb = gen.make_embeddings(self.seed, len(rows))
        self.ids = list(range(len(rows)))
        self.query_ids = random.Random(self.seed).sample(self.ids, N_QUERIES)
        self.corpus_fp = gen.fingerprint(rows, self.emb.round(12).tolist())
        self.docs_path = _path(self.work, "docs", "part-0.parquet")
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                                 "text": [r[3] for r in rows]}),
                       self.docs_path)
        self.emb_path = _path(self.work, "emb", "part-0.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(self.ids, pa.int64()),
            "embedding": pa.array(list(self.emb), pa.list_(pa.float64())),
        }), self.emb_path)
        self.pages_per_pass = len(rows)

    def setup(self, spark):
        self.spark = spark
        self.docs = spark.read.parquet(os.path.dirname(self.docs_path))
        self.embs = spark.read.parquet(os.path.dirname(self.emb_path))

    def run_pass(self, i):
        from seq2kg_spark.operators.ann import brute_force_topk
        from seq2kg_spark.operators.dedup import minhash_lsh_pairs, simhash64

        pairs = minhash_lsh_pairs(self.docs, **MINHASH).collect()
        sims = simhash64(self.docs).collect()
        topk = brute_force_topk(self.embs, query_ids=self.query_ids,
                                k=TOPK).collect()
        return pairs, sims, topk

    def fingerprint(self, out):
        return gen.fingerprint(*(_ordered(o) for o in out))

    def check(self, out):
        pairs, _sims, topk = out
        problems = []
        shingles = {}

        def sh(u):
            if u not in shingles:
                shingles[u] = word_shingle_set(self.texts[u])
            return shingles[u]

        low = 0
        for p in pairs:
            if p["approx"]:
                continue
            a, b = sh(p["doc_a"]), sh(p["doc_b"])
            if len(a & b) / len(a | b) < MINHASH["threshold"] - 5e-5:
                low += 1
        if low:
            problems.append(f"{low} MinHash pairs below the threshold")
        found = {(p["doc_a"], p["doc_b"]) for p in pairs}
        planted = [tuple(sorted(p)) for p in self.corpus.planted]
        self.recall = (sum(1 for p in planted if p in found) / len(planted)
                       if planted else 1.0)
        self.last_counts = {"pairs": len(pairs)}
        want = exact_topk(self.ids, self.emb, self.query_ids[:8], TOPK)
        got: dict[int, list] = {}
        for r in sorted(topk, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], r["dot"]))
        bad = [q for q in want if want[q] != got.get(q)]
        if bad:
            problems.append(f"{len(bad)}/{len(want)} top-k queries differ "
                            f"from exact numpy")
        return problems

    def install_spans(self, tracer):
        import seq2kg_spark.operators.ann as ann
        import seq2kg_spark.operators.dedup as dedup

        # each operator returns a lazy DataFrame that run_pass collects
        return [tracer.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash",
                            tail=True),
                tracer.wrap(dedup, "simhash64", "dedup.simhash64",
                            tail=True),
                tracer.wrap(ann, "brute_force_topk", "ann.topk", tail=True)]

    def layer_metrics(self, tracer, root, jobs_by_group, stages, rest):
        kids = {s.name: s for s in tracer.children(root)}
        out = {}
        for name in ("dedup.minhash", "dedup.simhash64", "ann.topk"):
            out[f"{name}.s"] = kids[name].dur
        ann_m = tr.group_stage_metrics(
            span_jobs(tracer, [kids["ann.topk"]], jobs_by_group), stages)
        out["ann.jobs"] = ann_m["jobs"]
        out.update(minhash_counts(self.docs, self.last_counts["pairs"]))
        out["dedup.minhash.planted_recall"] = self.recall
        return out


def minhash_counts(docs, verified: int) -> dict:
    """Candidate pairs (the same operator at threshold 0 keeps every
    candidate) and document scans in its executed plan."""
    from seq2kg_spark.operators.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(docs, **{**MINHASH, "threshold": 0.0})
    cand = df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "dedup.minhash.cand_pairs": cand,
        "dedup.minhash.verified_ratio": verified / cand if cand else 0.0,
        "dedup.minhash.scans": plan.count("Scan parquet"),
    }



# --------------------------------------------------------------------------
# recrawl_feed — streaming.ingest dedup → extract → incremental canonicalize
# in a closed loop with one client (by hand only, see NOTES.md)
# --------------------------------------------------------------------------

PAGES_PER_FILE = 40
RECRAWL_SHARE = 0.15     # exact recrawls of base pages in each feed file


class RecrawlFeed(Workload):
    name = "recrawl_feed"
    base_profile = gen.Profile(n_pages=300, non_en_share=0.0)
    file_profile = gen.Profile(n_pages=PAGES_PER_FILE, non_en_share=0.0,
                               html_only_share=0.15)
    # pass outputs differ by design: each pass is the next feed file
    passes_repeat = False
    overhead_pairs = 1

    def make_inputs(self):
        self.base = gen.make_pages(self.seed, self.base_profile)
        self.corpus_fp = gen.fingerprint(self.base.rows)
        self.feed = os.path.join(self.work, "feed")
        os.makedirs(self.feed, exist_ok=True)
        self.pages_per_pass = PAGES_PER_FILE
        self.batches: list[dict] = []

    def _file_rows(self, i: int) -> list[tuple]:
        """Feed file ``i``: new pages (some html-only) plus exact recrawls
        of base pages."""
        rng = random.Random(f"feed:{self.seed}:{i}")
        rows = gen.make_pages(self.seed, self.file_profile,
                              url_prefix=f"feed{i}").rows
        for j in rng.sample(range(len(rows)),
                            round(len(rows) * RECRAWL_SHARE)):
            rows[j] = rng.choice(self.base.rows)
        return rows

    def _drop(self, tag: str, rows) -> float:
        tmp = os.path.join(self.work, f"{tag}.parquet")
        gen.write_pages(rows, tmp)
        os.rename(tmp, os.path.join(self.feed, f"{tag}.parquet"))
        return time.time()

    def setup(self, spark):
        self.spark = spark
        self.stats_sink: list = []
        self._batch(self._drop("base", self.base.rows), len(self.base.rows))
        self.base_kept = spark.read.parquet(f"{self.work}/dedup").count()

    def _batch(self, dropped: float, n_rows: int, timed: bool = False
               ) -> dict:
        from seq2kg_spark.streaming.ingest import (
            read_pages_stream, stream_dedup_pages,
            stream_extract_triples, stream_incremental_canonicalize)

        spark, w = self.spark, self.work
        t0 = time.time()
        stream_dedup_pages(read_pages_stream(spark, self.feed, 1),
                           f"{w}/dedup", f"{w}/ck_dedup",
                           available_now=True).awaitTermination()
        t1 = time.time()
        dedup_schema = spark.read.parquet(f"{w}/dedup").schema
        stream_extract_triples(
            spark.readStream.schema(dedup_schema).parquet(f"{w}/dedup"),
            f"{w}/triples", f"{w}/ck_extract",
            available_now=True).awaitTermination()
        t2 = time.time()
        stream_incremental_canonicalize(
            spark.readStream.schema(
                "url string, subj string, pred string, obj string")
            .parquet(f"{w}/triples"),
            f"{w}/assign", f"{w}/ck_canon", available_now=True,
            stats_sink=self.stats_sink).awaitTermination()
        t3 = time.time()
        new_norms = self.stats_sink[-1][1].get("n_new_norms", 0)
        b = {"latency_s": t3 - dropped, "dedup_s": t1 - t0,
             "extract_s": t2 - t1, "canon_s": t3 - t2, "rows_in": n_rows,
             # closed loop: the next file is dropped after this commit
             "backlog_files": 0, "new_norms": new_norms, "timed": timed}
        self.batches.append(b)
        return b

    def run_pass(self, i):
        # negative passes warm up, passes from 1000 on measure tracing
        rows = self._file_rows(i)
        self._batch(self._drop(f"f{i + 1000:05d}", rows), len(rows),
                    timed=0 <= i < 1000)
        return i

    def fingerprint(self, i):
        from seq2kg_spark.streaming.ingest import read_assignment

        assign = read_assignment(self.spark, f"{self.work}/assign")
        return gen.fingerprint(_ordered(assign.collect()))

    def latencies(self) -> list[float]:
        return [b["latency_s"] for b in self.batches if b["timed"]]

    def check(self, i):
        from pyspark.sql import functions as F

        from seq2kg_spark.streaming.ingest import read_assignment

        problems = []
        dedup = self.spark.read.parquet(f"{self.work}/dedup")
        rep = (dedup.groupBy("url", "text_md5").count()
               .where(F.col("count") > 1).count())
        if rep:
            problems.append(f"{rep} repeated (url, text md5) after dedup")
        assign = read_assignment(self.spark, f"{self.work}/assign")
        n, distinct = assign.count(), assign.select("norm").distinct().count()
        if n != distinct:
            problems.append(f"{n - distinct} norms in more than one component")
        self.last_counts = {"dedup_rows": dedup.count(), "norms": n}
        return problems

    def install_spans(self, tracer):
        import seq2kg_spark.streaming.ingest as ingest

        # each returns a started query that _batch awaits
        return [tracer.wrap(ingest, f, f"stream.{f}", tail=True) for f in (
            "stream_dedup_pages", "stream_extract_triples",
            "stream_incremental_canonicalize")]

    def layer_metrics(self, tracer, root, jobs_by_group, stages, rest):
        from seq2kg_spark.functions.html_text import html_to_text_py

        fed = [b for b in self.batches if b["timed"]]
        # every feed file after the base one: rows in vs rows dedup kept
        kept = (self.spark.read.parquet(f"{self.work}/dedup").count()
                - self.base_kept)
        rows_in = sum(b["rows_in"] for b in self.batches[1:])
        html = [r[2] for r in self._file_rows(0) if r[3] is None]
        t = time.thread_time()
        for h in html:
            html_to_text_py(h)
        decode = (time.thread_time() - t) * 1e3 / max(len(html), 1)
        return {
            "stream.dedup_s": statistics.median(b["dedup_s"] for b in fed),
            "stream.extract_s": statistics.median(b["extract_s"]
                                                  for b in fed),
            "stream.canon_s": statistics.median(b["canon_s"] for b in fed),
            "stream.recrawl_drop_ratio": 1 - kept / rows_in,
            "stream.new_norms": statistics.median(b["new_norms"]
                                                  for b in fed),
            "stream.backlog_files": max(b["backlog_files"] for b in fed),
            "html_text.decode_ms_per_page": decode,
        }


ALL = (RuleKG, NeuralExtract, CorpusOps, RecrawlFeed)
