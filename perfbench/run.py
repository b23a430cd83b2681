"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``, each ``{"value": ..., "unit": ...}`` as listed in
BENCHMARK.json).  The lines before it are a report: every metric with
its unit and direction, and the workload's record (sizes, query volume
bands, CPU count, driver memory, library versions, source tree digest).
A traced run also writes its spans to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

_T0 = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS, Run  # noqa: E402

SPANS_DIR = os.path.join(ROOT, ".bench_out")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# end-to-end numbers every untraced run prints but BENCHMARK.json does not
# bound.  On a shared 4-CPU virtual machine the host's speed drifts by a
# third over tens of minutes, with no steal time to show for it (the same
# seed's serve p50 read 0.54 ms and 0.31 ms half an hour apart), so the
# quartile spread of any timing over ten runs is wider than the largest
# bound the benchmark may set.  setup_s, whose bound is checked on its
# median only, is the one bounded timing.  error_rate is 0 when the
# program is correct.  Claims on these numbers compare paired runs.
REPORTED = (
    ("query_p50_ms", "ms", "lower"), ("qps", "1/s", "higher"),
    ("build_docs_per_s", "docs/s", "higher"), ("visible_s", "s", "lower"),
    ("query_tail_ms", "ms", "lower"), ("ingest_docs_per_s", "docs/s", "higher"),
    ("batch_p50_s", "s", "lower"), ("compact_s", "s", "lower"),
    ("merge_s", "s", "lower"), ("error_rate", "ratio", "lower"),
)


def _line(name: str, value: float, unit: str, better: str, note: str = "") -> None:
    print(f"  {name:<44} {value:>16.6g} {unit:<10} ({better} is better){note}")


def report(spec_metrics: list[dict], values: dict, info: dict,
           failures: list[str], extra: bool) -> dict:
    """Print the human-readable report; return the ``metrics`` object."""
    out = {}
    for m in spec_metrics:
        name = m["name"]
        if name not in values:
            raise RuntimeError(f"metric {name} was not measured")
        out[name] = {"value": values[name], "unit": m["unit"]}
        _line(name, values[name], m["unit"], m["better"])
    if extra:
        for name, unit, better in REPORTED:
            if name in values:
                _line(name, values[name], unit, better, "  [reported, not bounded]")
    for f in failures[:20]:
        print(f"  FAILED: {f}")
    print("  record: " + json.dumps(info, sort_keys=True, default=str))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    trace = bool(args.trace)

    with harness.scratch_dir(f"{args.workload}-{args.seed}") as work:
        env = harness.prepare_env(work, trace)
        t_session = time.perf_counter()
        spark = harness.start_session(env["cpus"])
        session_s = time.perf_counter() - t_session
        try:
            tree = harness.check_same_tree(spark)
            # the tree check is not part of the workload's set-up
            t_start = _T0 + (time.perf_counter() - t_session - session_s)
            run = Run(spark, work, args.seed, args.seconds, trace, t_start, session_s)
            WORKLOADS[args.workload](run)
            run.info["workload_wall_s"] = round(time.perf_counter() - t_start, 2)
            import pyarrow
            import pyspark

            run.info.update({
                "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": trace,
                "cpus": env["cpus"], "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": spark.conf.get("spark.driver.memory"),
                "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "python": platform.python_version(), **tree,
            })
        finally:
            harness.stop_session(spark)
        if trace:
            from perfbench.spans import event_log_metrics

            run.finish_layers(event_log_metrics(env["event_dir"]))
            path = os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.jsonl")
            run.tracer.dump(path)
            run.info["spans_file"] = os.path.relpath(path, ROOT)

    run.e2e["error_rate"] = len(run.failures) / run.attempted
    kind = "per_layer" if trace else "end_to_end"
    values = run.layer if trace else run.e2e
    print(f"{args.workload} seed={args.seed} ({kind}):")
    metrics = report(spec[kind], values, run.info, run.failures, extra=not trace)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": min(len(run.failures), run.attempted),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
