"""One benchmark run in this process (started by ``run.py``).

Prints the result as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``, with every
end-to-end metric when tracing is off and every per-layer metric when
it is on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import spans
from workloads import WORKLOADS, Run

PER_LAYER = (
    "session.start_s", "setup.warmup_s", "setup.base_load_s",
    "binlog.envelope_records_per_s", "binary.row_decode_records_per_s",
    "binary.scalar_records_per_s", "decode.spark_jobs_per_pass",
    "pipeline.process_batch_ms", "pipeline.spark_jobs_per_batch",
    "stream.trigger_overhead_ms", "pipeline.buckets_rewritten_per_batch",
    "pipeline.state_bytes_written_per_batch", "pipeline.pending_rows",
    "pipeline.tables_run_per_batch", "statestore.commit_ms",
    "statestore.read_calls_per_batch", "statestore.list_calls_per_batch",
    "statestore.write_calls_per_batch", "statestore.delete_calls_per_batch",
    "consumer.table_files", "host.steal_s", "jvm.peak_rss_mb",
    "python.peak_rss_mb",
)

UNITS = {"_s": "s", "_ms": "ms", "_per_s": "records/s", "_mb": "MB",
         "bytes_written_per_batch": "bytes"}


def unit(name: str) -> str:
    for suffix, u in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return u
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    t_start = float(os.environ.get("INGESTBENCH_T0", time.time()))
    # perf_counter timeline anchored at the wrapper's start
    t_start = time.perf_counter() - (time.time() - t_start)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.work, t_start, selftest=args.selftest)
    steal0 = spans.steal_seconds()
    try:
        WORKLOADS[args.workload](run)
        if args.selftest:
            import selftest

            cases = selftest.run_cases(*run.last)
            print(json.dumps({"selftest": cases}))
            return 0
    finally:
        jvm_mb = spans.child_java_peak_rss_mb()
        if run.spark is not None:
            run.spark.stop()
    for e in run.errors + run.mismatches:
        print(f"ingestbench: {e}", file=sys.stderr)

    if args.trace:
        run.layer.update({
            "session.start_s": run.phase["session.start_s"],
            "setup.warmup_s": run.phase["setup.warmup_s"],
            "setup.base_load_s": run.phase["setup.base_load_s"],
            "host.steal_s": spans.steal_seconds() - steal0,
            "jvm.peak_rss_mb": jvm_mb,
            "python.peak_rss_mb": spans.python_peak_rss_mb(),
        })
        run.tracer.write(args.spans)
        metrics = {n: {"value": run.layer[n], "unit": unit(n)}
                   for n in PER_LAYER}
    else:
        metrics = {n: {"value": v, "unit": u}
                   for n, (v, u) in run.end_to_end().items()}
    print(json.dumps({
        "correct": not run.mismatches,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
