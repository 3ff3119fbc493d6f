"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_batch,warehouse}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout: the engine is imported from there and
every file the run writes goes under ``.bench_work/`` there. Step
records are printed as JSON lines while the run goes; the last line is
the result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_batch", "warehouse")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "work_s": "s"}

# every per-layer metric; a workload that does not exercise a layer
# reports 0 for it (no calls, no time)
PER_LAYER = {
    "session.start_s": "s", "peak_rss_mb": "MB",
    "plans.compose_s.floor": "s", "plans.compose_s.heavy": "s",
    "plans.compose_jobs.floor": "count", "plans.compose_jobs.heavy": "count",
    "catalyst.plan_s.floor": "s", "catalyst.plan_s.heavy": "s",
    "exec.jobs": "count", "exec.job_s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.python_worker_s": "s",
    "transfer.arrow_s": "s",
    "plans.cached_rdds_left": "count", "api.cached_rdds_left": "count",
    "api.company_p50_ms": "ms", "api.ratios_p50_ms": "ms",
    "api.screener_p50_ms": "ms",
    "api.jobs_per_request.company": "count",
    "api.jobs_per_request.ratios": "count",
    "api.jobs_per_request.screener": "count",
    "plans.api_compose_ms": "ms", "serving.collect_ms": "ms",
    "api.queue_wait_ms": "ms", "api.generator_late_ms": "ms",
    "sinks.append_if_absent_s": "s", "sources.json_bytes": "B",
    "sinks.bytes_written_per_input_byte": "ratio", "sinks.upsert_s": "s",
    "materialize.refresh_self_s": "s", "materialize.touched_ciks": "count",
    "sinks.write_replace_s": "s", "sinks.versions_published": "count",
    "sinks.files_written": "count",
    "streaming.commit_ms.upsert": "ms", "streaming.commit_ms.hll": "ms",
    "streaming.commit_ms.kmv": "ms", "streaming.commit_ms.cm": "ms",
    "streaming.commit_ms.histogram": "ms",
    "trace.overhead.op_p50_ms": "ms", "trace.overhead.op_tail_ms": "ms",
    "trace.overhead.work_s": "s",
}


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "sec_xbrl_finwarehouse_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    import harness

    harness.prepare_env(ROOT, work, cpus)
    r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                    ROOT, work, cpus)
    try:
        mod = importlib.import_module(args.workload)
        out = mod.run(r)
        if r.tracer is not None:
            r.tracer.write(os.path.join(ROOT, ".bench_work",
                                        f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        r.cleanup()
    if args.trace:
        layers = {"peak_rss_mb": out["peak_rss_mb"], **out.get("layers", {})}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(out[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    r.step("tally", attempted=r.tally.attempted, failed=r.tally.failed,
           fail_frac=r.tally.fail_frac, first_errors=r.tally.errors)
    print(json.dumps({"correct": r.tally.failed == 0,
                      "attempted": r.tally.attempted,
                      "failed": r.tally.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
