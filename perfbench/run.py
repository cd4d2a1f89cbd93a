"""Benchmark command: run one named workload and print its metrics.

    python3 perfbench/run.py --workload rule_kg --seed 1 --seconds 10 \
        --trace 0

Run from the repository root.  Inputs are generated from ``--seed``; the
program runs on ``local[N]`` (N = min(4, usable cores)) in this process.
Timed passes repeat until ``--seconds`` of pass time has been measured
(at least one pass).  Outputs are checked after timing.  The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Lines before it carry the full report.
See perfbench/NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 2
DRIVER_MEM = "1g"
# a run must end within 180 s; the traced run's overhead passes are only
# started while they fit before this mark
TRACE_DEADLINE_S = 150

END_TO_END = {
    "pages_per_s": "pages/s",
    "cpu_s_per_kpage": "CPU-s/kpage",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
}
PER_LAYER = {
    "setup.session_s": "s",
    "setup.corpus_s": "s",
    "trace.overhead_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.core_util": "ratio",
    "spark.shuffle_mb": "MiB",
    "spark.spill_mb": "MiB",
    "curate.wall_share": "ratio",
    "curate.rows_in": "count",
    "curate.rows_out": "count",
    "curate.drop_ratio": "ratio",
    "curate.shuffle_mb": "MiB",
    "lineage.overhead_share": "ratio",
    "lineage.jobs": "count",
    "lineage.waves": "count",
    "repartition.task_skew": "ratio",
    "repartition.empty_task_ratio": "ratio",
    "extract.wall_share": "ratio",
    "extract.triples": "count",
    "tagger_infer.wall_share": "ratio",
    "tagger_infer.sentences": "count",
    "tagger_infer.triples": "count",
    "nlp.unattributed_ratio": "ratio",
    "canon.wall_share": "ratio",
    "canon.jobs": "count",
    "canon.mentions": "count",
    "canon.cand_pairs": "count",
    "canon.verified_ratio": "ratio",
    "canon.hot_bucket_pairs_dropped": "count",
    "canon.cc_rounds": "count",
    "canon.spill_mb": "MiB",
    "dedup.minhash.wall_share": "ratio",
    "dedup.minhash.cand_pairs": "count",
    "dedup.minhash.verified_ratio": "ratio",
    "dedup.minhash.scans": "count",
    "dedup.minhash.planted_recall": "ratio",
    "dedup.simhash64.wall_share": "ratio",
    "ann.topk.wall_share": "ratio",
    "ann.jobs": "count",
}
# layer span name -> the wall-share metric it feeds
WALL_SHARES = {
    "curate.s": "curate.wall_share",
    "extract.s": "extract.wall_share",
    "tagger_infer.s": "tagger_infer.wall_share",
    "canon.s": "canon.wall_share",
    "dedup.minhash.s": "dedup.minhash.wall_share",
    "dedup.simhash64.s": "dedup.simhash64.wall_share",
    "ann.topk.s": "ann.topk.wall_share",
    "lineage.overhead_s": "lineage.overhead_share",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _import_program():
    """Put the checkout on sys.path and import the program; exits non-zero
    (printing no result) when it is not there."""
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import seq2kg_spark.plans.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        sys.exit(2)


def _sandbox(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONWARNINGS"] = "ignore"
    tempfile.tempdir = tmp


def start_spark(name: str, work: str, cores: int, ui: bool):
    from seq2kg_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    java = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": java,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.ui.retainedTasks": "1000000",
    }
    spark = get_spark(f"perfbench-{name}", cpus=cores,
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def fingerprint_mismatches(keys: list[str], fps: list[str | None]
                           ) -> list[bool]:
    """Check pass output fingerprints against the first one recorded for
    the same key, in this run or an earlier run in this checkout (stored in
    ``.perfbench/fingerprints.json``).  Returns one flag per pass."""
    path = os.path.join(ROOT, ".perfbench", "fingerprints.json")
    try:
        with open(path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = {}
    bad = [fp is None or seen.setdefault(k, fp) != fp
           for k, fp in zip(keys, fps)]
    with open(path, "w") as f:
        json.dump(seen, f, indent=0, sort_keys=True)
    return bad


def timed_passes(w, seconds: float, tracer=None):
    """Run passes until ``seconds`` of pass wall is measured."""
    import procmon

    walls, cpu, peak, outs, errors = [], 0.0, 0, [], []
    w.rss_by_process = []
    i = 0
    while not walls or sum(walls) < seconds:
        sampler = procmon.TreeSampler().start()
        t = time.monotonic()
        try:
            if tracer is None:
                out = w.run_pass(i)
            else:
                with tracer.span("pass", index=i) as root:
                    out = w.run_pass(i)
                w.roots.append(root)
        except Exception as exc:  # a failed pass is counted, not fatal
            out = None
            errors.append(f"pass {i}: {type(exc).__name__}: {exc}")
        walls.append(time.monotonic() - t)
        sampler.stop()
        cpu += sampler.cpu_s
        if sampler.peak_rss > peak:
            peak = sampler.peak_rss
            w.rss_by_process = [(c, round(b / 2 ** 20))
                                for c, b in sampler.peaks]
        outs.append(out)
        i += 1
        if out is None:
            break
    return walls, cpu, peak, outs, errors


def _terminate(signum, frame):
    # unwind through main's finally: stop Spark, remove the work dir
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = _args(argv)
    _import_program()
    signal.signal(signal.SIGTERM, _terminate)
    import workloads

    kinds = {k.name: k for k in workloads.ALL}
    if args.workload not in kinds:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(kinds)}", file=sys.stderr)
        return 2
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _sandbox(work)
    w = kinds[args.workload](args.seed, work, cores)
    w.roots = []
    spark = None
    try:
        t0 = time.monotonic()
        spark = start_spark(args.workload, work, cores, ui=bool(args.trace))
        t1 = time.monotonic()
        w.make_inputs()
        t2 = time.monotonic()
        w.setup(spark)
        t3 = time.monotonic()
        for i in range(w.warm_passes):
            w.run_pass(-1 - i)
        t4 = time.monotonic()
        setup = {"setup.session_s": t1 - t0, "setup.corpus_s": t2 - t1,
                 "setup.prepare_s": t3 - t2, "setup.warmup_s": t4 - t3,
                 **{f"setup.{k}": v for k, v in w.setup_parts.items()}}
        setup_s = t4 - t0

        tracer = restore = None
        if args.trace:
            import spans as tr

            tracer = tr.Tracer(f"{args.seed}", spark)
            restore = w.install_spans(tracer)
        walls, cpu, peak, outs, errors = timed_passes(w, args.seconds, tracer)

        # ---- correctness, outside the timed region --------------------
        fps = [w.fingerprint(o) if o is not None else None for o in outs]
        keys = [f"{w.name}:{args.seed}:{w.corpus_fp}:"
                f"{0 if w.passes_repeat else i}" for i in range(len(outs))]
        bad = fingerprint_mismatches(keys, fps)
        problems = list(errors)
        if any(b for b, o in zip(bad, outs) if o is not None):
            problems.append("output fingerprint differs from another pass "
                            "or an earlier run of the same seed")
        if outs[-1] is not None:
            found = w.check(outs[-1])
            problems += found
            bad[-1] = bad[-1] or bool(found)
        attempted, failed = len(outs), sum(bad)
        pages = w.pages_per_pass
        e2e = {
            "pages_per_s": pages / statistics.median(walls),
            "cpu_s_per_kpage": cpu / (pages * len(walls) / 1000),
            "peak_rss_mb": peak / 2 ** 20,
            "setup_s": setup_s,
            "error_rate": failed / attempted,
        }
        if hasattr(w, "latencies"):
            import stats

            lat = stats.median_and_tail(w.latencies())
            e2e["feed_latency_p50_s"] = lat["p50"]
            e2e["feed_latency_tail_s"] = lat["tail"]
            e2e["feed_latency_tail_pct"] = lat["tail_pct"]
            e2e["feed_batches"] = lat["n"]
        report = {
            "workload": w.name, "seed": args.seed, "cores": cores,
            "corpus_fingerprint": w.corpus_fp,
            "output_fingerprint": fps[-1],
            "pages_per_pass": pages, "passes": len(walls),
            "pass_walls_s": walls, "correct": not problems,
            "problems": problems, "setup": setup, "end_to_end": e2e,
            "output_counts": getattr(w, "last_counts", {}),
            "peak_rss_mb_by_process": w.rss_by_process,
        }
        layer = {}
        if args.trace:
            layer = traced_metrics(w, spark, tracer, restore, walls, cores,
                                   t0 + TRACE_DEADLINE_S)
            layer.update(setup)
            report["per_layer"] = layer
            spans_path = os.path.join(ROOT, ".perfbench",
                                      f"spans-{w.name}-{args.seed}.json")
            tracer.dump(spans_path)
            report["spans_file"] = os.path.relpath(spans_path, ROOT)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    units = {**END_TO_END, "error_rate": "ratio", "feed_latency_p50_s": "s",
             "feed_latency_tail_s": "s", "feed_latency_tail_pct": "pct",
             "feed_batches": "count"}
    print(f"workload {w.name} seed {args.seed} corpus {w.corpus_fp} "
          f"output {fps[-1]} correct {not problems}")
    for k, v in e2e.items():
        print(f"  {k:<18} {v:12.4f} {units[k]}")
    if problems:
        print("  problems: " + "; ".join(problems))
    print(json.dumps({"report": report}, default=str))
    names = PER_LAYER if args.trace else END_TO_END
    source = layer if args.trace else e2e
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u}
               for k, u in names.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def traced_metrics(w, spark, tracer, restore, walls, cores, deadline
                   ) -> dict:
    """Per-layer numbers of the last timed pass, Spark engine totals over
    all timed passes, driver-side kernel costs and the tracing overhead.

    The overhead is the median traced minus the median untraced pass wall
    from alternating passes after the measured ones, as many pairs as the
    workload asks for and fit before ``deadline`` (monotonic seconds).
    When none fits, it falls back to the time the Spark driver spent in
    the span wrappers, a lower bound."""
    import spans as tr
    import workloads

    rest = tr.SparkRest(spark)
    rest.settle()
    jobs_by_group = rest.jobs_by_group()
    stages = rest.stages()
    out = w.layer_metrics(tracer, w.roots[-1], jobs_by_group, stages, rest)
    eng = tr.group_stage_metrics(
        workloads.span_jobs(tracer, w.roots, jobs_by_group), stages)
    out.update({
        "spark.jobs": eng["jobs"] / len(w.roots),
        "spark.tasks": eng["tasks"] / len(w.roots),
        "spark.core_util": eng["busy_s"] / (sum(walls) * cores),
        "spark.shuffle_mb": eng["shuffle_mb"] / len(w.roots),
        "spark.spill_mb": eng["spill_mb"] / len(w.roots),
        "spark.gc_s": eng["gc_s"] / len(w.roots),
    })
    root_wall = w.roots[-1].dur
    for k, share in WALL_SHARES.items():
        if k in out:
            out[share] = out[k] / root_wall
    out["span_self_s"] = tracer.self_times()
    out.update(w.kernel_metrics())
    plain, traced = [], []
    for i in range(w.overhead_pairs):
        if time.monotonic() + 2 * statistics.median(walls) > deadline:
            break
        for fn in restore:
            fn()
        t = time.monotonic()
        w.run_pass(1000 + 2 * i)
        plain.append(time.monotonic() - t)
        restore = w.install_spans(tracer)
        t = time.monotonic()
        with tracer.span("overhead_pass"):
            w.run_pass(1001 + 2 * i)
        traced.append(time.monotonic() - t)
    for fn in restore:
        fn()
    out["trace.driver_cost_s"] = tracer.cost_s
    if plain:
        out["trace.overhead_s"] = (statistics.median(traced)
                                   - statistics.median(plain))
        out["trace.overhead_ratio"] = (out["trace.overhead_s"]
                                       / statistics.median(plain))
        out["trace.overhead_pairs"] = len(plain)
    else:
        out["trace.overhead_s"] = tracer.cost_s
        out["trace.overhead_pairs"] = 0
    return out


if __name__ == "__main__":
    sys.exit(main())
