#!/usr/bin/env python3
"""Store-path benchmark for diive_spark's TierStore.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Workloads: backfill, trickle_mix (see perfbench/README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes every span to
``.perfbench_out/trace-<workload>-<seed>.json``.  The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

WORKLOADS = ("backfill", "trickle_mix")
END_TO_END = {
    "setup_s": "s", "primary_p50_s": "s", "secondary_p50_s": "s", "tertiary_p50_s": "s",
    "tokens_per_s": "tok/s", "store_bytes_per_token": "B/tok",
}
LAYERS = ("op", "functions.gorilla", "datagen.series_view", "operators.resample",
          "operators.tiers", "operators.outliers", "operators.gaps")
PER_LAYER = {
    "gorilla.encode_tokens_per_s": "tok/s", "gorilla.decode_tokens_per_s": "tok/s",
    "gorilla.raw_bytes_per_token": "B/tok",
    "series_view.s": "s", "series_view.rows_out": "count",
    "resample.tier1m_rollup_s": "s", "resample.compose_s": "s", "resample.pctl_rescan_s": "s",
    **{f"resample.{t}.{m}": u for t in ("tier_1m", "tier_1h", "tier_1d")
       for m, u in (("rows_in", "count"), ("rows_out", "count"), ("shuffle_bytes", "B"))},
    "tiers.write_raw_s": "s", "tiers.materialize_s": "s",
    "tiers.tier_1m_s": "s", "tiers.tier_1h_s": "s", "tiers.tier_1d_s": "s",
    **{f"tiers.{t}.{m}": u for t in ("raw", "tier_1m", "tier_1h", "tier_1d")
       for m, u in (("bytes_written", "B"), ("files", "count"))},
    "tiers.lineage_bytes": "B", "tiers.merge_spark_jobs": "count",
    "tiers.merge_bytes_written_per_token": "B/tok", "tiers.merge_partitions_rewritten": "count",
    "tiers.compact_s": "s", "tiers.files_before": "count", "tiers.files_after": "count",
    "tiers.read_input_bytes_per_query": "B", "tiers.read_files_per_query": "count",
    "tiers.rows_scanned_per_row_returned": "ratio",
    "qc.zscore_s": "s", "qc.interpolate_s": "s", "qc.gap_runs_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B", "spark.output_bytes": "B",
    "spark.idle_frac": "ratio",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.traced_op_p50_s": "s", "trace.untraced_op_p50_s": "s", "trace.overhead_s": "s",
    "failed_op_frac": "ratio", "peak_rss_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")

    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "diive_spark")):
        print("perfbench: diive_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    import workloads
    from engine import PeakRSS, start_session, stop_session
    from spans import layer_self_times

    work = os.path.join(repo, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rss = PeakRSS() if args.trace else None
    spark = None
    try:
        spark = start_session(work)
        session_s = time.perf_counter() - t_start
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
        workloads.WORKLOADS[args.workload](run)
    finally:
        if spark is not None:
            stop_session(spark)
        peak_mb = rss.stop() if rss else None
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if o.error or o.failed)
    # imports + session start happen once per process; the rest of the
    # set-up is repeated and its median taken (workloads.setup)
    setup_s = session_s + statistics.median(run.setup_rounds)
    named = dict(run.named, setup_s=(setup_s, "s"), failed_op_frac=(failed / max(attempted, 1), "ratio"),
                 store_bytes_per_token=(run.metrics["store_bytes_per_token"], "B/tok"))
    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(run.layer)
        for name, s in layer_self_times(run.tracer.spans).items():
            layer[f"self.{name}_s"] = s
        layer.update(failed_op_frac=named["failed_op_frac"][0], peak_rss_mb=peak_mb)
        named["peak_rss_mb"] = (peak_mb, "MB")
        out_dir = os.path.join(repo, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed, "per_layer": layer,
                         "ops": [{"kind": o.kind, "op_id": o.op_id, "wall_s": o.wall_s,
                                  "traced": o.traced, "failed": bool(o.error or o.failed),
                                  "engine": o.engine} for o in run.ops]})
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = dict(run.metrics, setup_s=setup_s)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print("perfbench " + json.dumps({
        "workload": args.workload, "seed": args.seed, "samples": run.info,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(named.items())}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
