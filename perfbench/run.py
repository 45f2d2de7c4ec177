"""Run one benchmark workload against vrod_spark and print its metrics.

    python3 perfbench/run.py --workload knn-serve --seed 1 --seconds 15 --trace 0

Run it from the root of a vrod-spark checkout. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the program's layers are wrapped and the per-layer ones are
printed instead, and the spans are written to
``.perfbench_work/traces/<workload>-<seed>.jsonl``. Logs go to stderr. The
exit code is 0 only when every op succeeded and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("knn-serve", "knn-mutate")

END_TO_END_UNITS = {
    "setup_s": "s",
    "search_qps": "1/s",
    "search_p50_ms": "ms",
    "rewrite_p50_ms": "ms",
    "stored_bytes_per_user_byte": "B/B",
}


def layer_metrics(bench, tracer) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the ops after set-up (the window and the
    writer's script); the read-path ones (catalog.read_ms, spark.*,
    py4j.*) over its searches only. Session start, BULKINSERT, ANALYZE and
    REINDEX come from set-up; knn-mutate runs no REINDEX and reads 0 for
    it, as for the other operators.ann metrics it bypasses."""
    from workloads import peak_rss_mb

    timed = {o["op"] for o in tracer.ops if o["op"] > bench.first_timed_op}
    searches = {o["op"] for o in tracer.ops
                if o["op"] in timed and o["kind"] == "searchsimilar"}
    spans = [s for s in tracer.spans if s["op"] in timed]
    n_ops = max(len(timed), 1)
    n_searches = max(len(searches), 1)

    def med_ms(*names, among=spans):
        vals = [s["end"] - s["start"] for s in among if s["name"] in names]
        return 1000 * statistics.median(vals) if vals else 0.0

    def count(name):
        return sum(1 for s in spans if s["name"] == name)

    spark_counts = tracer.spark_counts(bench.spark)
    per_search = [spark_counts[o] for o in searches]
    py4j = [tracer.py4j[o] for o in searches]
    own = tracer.self_times(timed)
    version_dir = bench.col.version_dir()
    files = sum(len([f for f in fs if not f.startswith((".", "_"))])
                for _d, _s, fs in os.walk(version_dir))
    probes = max(tracer.counts.get("ann.searches", 0), 1)
    out = {
        "session.start_s": (med_ms("session.get_spark", among=tracer.spans) / 1000, "s"),
        "engine.searchsimilar.plan_ms": (med_ms("engine.searchsimilar"), "ms"),
        "engine.searchsimilar.collect_ms": (med_ms("collect.searchsimilar"), "ms"),
        "engine.insert.plan_ms": (med_ms("engine.insert"), "ms"),
        "engine.update.plan_ms": (med_ms("engine.update"), "ms"),
        "engine.delete.plan_ms": (med_ms("engine.delete"), "ms"),
        "engine.truncatewal.plan_ms": (med_ms("engine.truncatewal"), "ms"),
        "engine.reindex.plan_ms": (med_ms("engine.reindex", among=tracer.spans), "ms"),
        "engine.bulkinsert.plan_ms": (med_ms("engine.bulkinsert", among=tracer.spans), "ms"),
        "catalog.read_ms": (med_ms("catalog.read", among=[
            s for s in spans if s["op"] in searches]), "ms"),
        "catalog.meta_reads_per_op": (count("catalog.meta") / n_ops, "count/op"),
        "catalog.commit_ms": (med_ms("catalog.insert", "catalog.update", "catalog.delete",
                                     "catalog.commit_staged_index"), "ms"),
        "catalog.analyze_ms": (med_ms("catalog.analyze", among=tracer.spans), "ms"),
        "catalog.files_in_current_version": (files, "count"),
        "catalog.bytes_written_per_user_byte": (
            bench.bytes_written / max(bench.user_bytes_changed, 1), "B/B"),
        "ann.candidate_buckets_ms": (med_ms("ann.candidate_buckets"), "ms"),
        "ann.buckets_probed": (tracer.counts.get("ann.buckets_probed", 0) / probes, "count/search"),
        "ann.rows_scanned_per_search": (tracer.counts.get("ann.rows_scanned", 0) / probes, "rows/search"),
        "ann.reindex_s": (med_ms("ann.reindex_collection", among=tracer.spans) / 1000, "s"),
        "ann.recall_at_10": (statistics.mean(bench.recalls) if bench.recalls else 0.0, "ratio"),
        "knn.plan_ms": (med_ms("knn.knn_exact"), "ms"),
        "spark.jobs_per_op": (sum(c[0] for c in per_search) / n_searches, "count/op"),
        "spark.stages_per_op": (sum(c[1] for c in per_search) / n_searches, "count/op"),
        "spark.tasks_per_op": (sum(c[2] for c in per_search) / n_searches, "count/op"),
        "spark.failed_tasks": (sum(c[3] for c in spark_counts.values()), "count"),
        "py4j.calls_per_op": (sum(p[0] for p in py4j) / n_searches, "count/op"),
        "py4j.wait_ms": (1000 * sum(p[1] for p in py4j) / n_searches, "ms/op"),
        "trace.overhead_ms_per_op": (1000 * tracer.overhead_s / n_ops, "ms/op"),
        "process.peak_rss_mb": (peak_rss_mb(), "MiB"),
    }
    for layer in ("engine", "collect", "catalog", "ann", "knn"):
        out[f"self.{layer}_ms_per_op"] = (1000 * own[layer] / n_ops, "ms/op")
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import vrod_spark.engine  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import vrod_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from spans import NullTracer, Tracer
    from workloads import Bench, log

    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    tracer = Tracer() if args.trace else NullTracer()
    tracer.install()
    bench = Bench(args.workload, args.seed, args.seconds, tracer, work)
    t0 = time.perf_counter()
    try:
        bench.run()
        log(f"timed searches (s): {[round(t.seconds, 2) for t in bench.timed_searches()]}")
        log(f"timed writes (s): {[(v, round(d, 2)) for v, d in bench.writes]}")
        bench.check()
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in bench.metrics().items()}
        if args.trace:
            log(f"end-to-end (traced): {metrics}")
            metrics = layer_metrics(bench, tracer)
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{args.workload}-{args.seed}")
            tracer.write_jsonl(stem + ".jsonl")
            with open(stem + ".top.json", "w") as f:
                json.dump(tracer.top_self_spans(10), f, indent=1)
            log(f"top self-time spans: {tracer.top_self_spans(10)}")
    finally:
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.perf_counter() - t0:.1f}s; recall@10 over "
        f"{len(bench.recalls)} indexed searches: "
        f"{statistics.mean(bench.recalls) if bench.recalls else float('nan'):.3f}")
    correct = not bench.failures
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
