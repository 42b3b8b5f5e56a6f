"""Benchmark entry point.

    python3 perfbench/run.py --workload enrich_backlog --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics. A fuller record of each run
(every batch latency and phase, set-up times, host probe, every span)
goes to ``.perfbench_runs/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

import workloads  # noqa: E402  (needs ROOT on the path: imports the package)
from spans import SPAN_FIELDS, Tracer, calib_s  # noqa: E402

# Spans and the fields of each that go into the per-layer metrics
# (``self_s`` and ``spill_bytes`` stay in the run record only).
SPANS = ("sinks.write_batch", "sinks.read", "sinks.compact",
         "enrich.enrich_orders", "dedup.build", "dedup.filter_novel",
         "dedup.append", "relational.F1", "relational.A1", "relational.A2",
         "relational.A3")
LAYER_SPAN_FIELDS = tuple(f for f in SPAN_FIELDS if f not in ("self_s", "spill_bytes"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted for the command-line contract; run sizes "
                         "are fixed (see README) so every run measures the same work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "jvm-tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "jvm-tmp")

    run = workloads.Run(work=work, seed=args.seed, tracer=Tracer(bool(args.trace)),
                        cpus=os.cpu_count() or 4)
    try:
        calib_start = calib_s()
        t0 = time.perf_counter()
        e2e = workloads.WORKLOADS[args.workload](run)
        run.notes["run_wall_s"] = time.perf_counter() - t0
        calib_end = calib_s()
        e2e["setup_s"] = statistics.median(run.setups)
        layer = _layer_metrics(run, e2e, calib_start, calib_end) if args.trace else {}
    finally:
        _stop(run)
        shutil.rmtree(work, ignore_errors=True)

    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in declared}
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    _record(args, run, result, e2e, calib_start, calib_end)
    print(json.dumps(result))
    return 0


def _layer_metrics(run, e2e: dict, calib_start: float, calib_end: float) -> dict[str, float]:
    run.tracer.collect_jobs(run.spark)
    spans = run.tracer.report(list(SPANS) + ["session.get_spark", "session.warmup"])
    out = dict.fromkeys(
        ("streaming.pipeline.trigger_s", "streaming.pipeline.trigger_max_s",
         "streaming.pipeline.add_batch_s",
         "streaming.pipeline.planning_s", "streaming.pipeline.offsets_s",
         "streaming.pipeline.commit_s", "streaming.pipeline.idle_s",
         "streaming.pipeline.batches", "streaming.pipeline.add_batch_other_s",
         "sinks.files_written", "sinks.bytes_written", "sinks.shadowed_ratio",
         "sinks.write_vs_plain_parquet", "sinks.query_p50_s",
         "sinks.compacted_query_p50_s", "enrich.broadcast_joins",
         "dedup.accept_ratio", "dedup.index_files", "dedup.index_docs",
         "scaling.enrich_speedup"),
        0.0)  # a layer the workload does not use reports 0
    out.update(run.layer)
    for name in SPANS:
        for f in LAYER_SPAN_FIELDS:
            out[f"{name}.{f}"] = spans[name][f]
    out["session.get_spark_s"] = spans["session.get_spark"]["s_p50"]
    out["session.warmup_s"] = spans["session.warmup"]["s_p50"]
    out["host.calib_start_s"] = calib_start
    out["host.calib_end_s"] = calib_end
    # the traced stream's own end-to-end figures: tracing overhead is these
    # minus the untraced run's (perfbench/steady.py reports the difference)
    out["tracing.rows_per_s"] = e2e["rows_per_s"]
    out["tracing.op_latency_p50_s"] = e2e["op_latency_p50_s"]
    run.notes["spans"] = spans
    run.notes["span_log"] = run.tracer.dump()
    return out


def _stop(run) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _record(args, run, result, e2e, calib_start, calib_end) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"args": vars(args), "result": result, "end_to_end": e2e,
                   "setups_s": run.setups, "host_calib_s": [calib_start, calib_end],
                   "notes": run.notes}, f, indent=1)
    print(f"perfbench: calib {calib_start:.4f}/{calib_end:.4f} s, "
          f"record {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
