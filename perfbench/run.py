"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the fixed corpus
under perfbench/.data (under a minute). The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

sql_interactive times whole statement decks, at least two, until
--seconds have passed; ingest_admit
times a fixed schedule (rounds of two batches and a compaction) and
does not read --seconds.

With --trace 0 the metrics are the end-to-end metrics of spec.py. With
--trace 1 they are the per-layer metrics of traced operations; the same
run also times untraced operations, and the difference of the two
medians is the tracing overhead. The span file is written to
perfbench/.out. A human-readable report (environment, setup phases,
tracing overhead, failures) goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    needed = ["presto_on_ray_spark/__init__.py", "tests/oracle_harness.py",
              "scripts/gen_scale_data.py"]
    missing = [f for f in needed if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH_DIR, os.path.join(ROOT, "tests")]

    import common
    import spec

    workloads = {w["name"] for w in spec.WORKLOADS}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    env = common.pin_environment(args.seed, args.workload)
    common.ensure_corpus()
    if args.workload == "sql_interactive":
        import sql_interactive as workload
    else:
        import ingest_admit as workload
    t_start = time.perf_counter()
    res = workload.run(args.seed, args.seconds, bool(args.trace), t_start)
    env["loadavg_1m_after"] = common.loadavg_1m()
    env.update(res["versions"])

    acct, phases = res["acct"], res["phases"]
    e2e = dict(res["e2e"], ok_frac=acct.ok_frac)
    units = {n: u for n, u, *_ in spec.END_TO_END}
    report = {
        "env": env,
        "setup_phases_s": {k: round(v, 4) for k, v in phases.items()},
        "operations_timed": res["n_ops"],
        "op_tail_percentile": res["tail_pct"],
        "op_p50_ms_by_template": res.get("p50_ms_by_template"),
        "failed_frac": acct.failed_frac,
        "check_s": res["check_s"],
        "end_to_end": {n: e2e[n] for n in units if n in e2e},
        "problems": acct.problems[:20],
    }
    if args.trace:
        layers = dict.fromkeys((n for n, *_ in spec.PER_LAYER), 0.0)
        for phase, name in spec.SETUP_PHASES.items():
            layers[name] = phases.get(phase, 0.0) * 1e3
        layers.update(res["layers"])
        layers["trace.overhead_ms"] = res["overhead_ms"]
        span_file = os.path.join(
            common.OUT_DIR, f"spans-{args.workload}-{args.seed}.json")
        res["tracer"].dump(span_file)
        report["span_file"] = os.path.relpath(span_file, ROOT)
        report["trace_overhead_ms"] = res["overhead_ms"]
        units = {n: u for n, u, *_ in spec.PER_LAYER}
        values = {n: layers[n] for n in units}
    else:
        values = {n: e2e[n] for n in units}
    print(json.dumps(report, indent=1, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": acct.failed == 0,
        "attempted": acct.attempted,
        "failed": acct.failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
