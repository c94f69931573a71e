"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: ``nightly_incremental``,
``weekly_full_refresh`` and ``query_mix`` (listed in BENCHMARK.json with
why each exists).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. ``attempted``
counts the run's operations (nightly: pipeline-nights; weekly: sink
records to upsert or delete; query_mix: queries and target reads) and
``failed`` those whose output check failed; ``correct`` says every
operation was checked and every mismatch belongs to a counted one.

Every run writes ``.perfbench-out/<workload>-seed<n>-untraced.json`` or
``-trace.json``: the failed operations and why, the timed wall and, when
traced, the per-layer metrics, each span with its Spark counters, self
time per span name, the spans' coverage of the timed wall and the
tracing overhead (traced minus untraced timed wall of the same seed).
``--fault`` injects one fault for the self-test in ``selftest.py``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench-out")
RUNS_DIR = os.path.join(ROOT, ".perfbench-runs")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--fault",
        choices=("sink_drop_batch", "cube_cell", "query_row"),
        help="inject one fault (benchmark self-test): the matching check must fail",
    )
    return ap.parse_args(argv)


def _preflight() -> str | None:
    """Why this checkout cannot run the benchmark, or None."""
    from perfbench.common import PIPELINES_YAML

    if not os.path.isfile(PIPELINES_YAML):
        return f"{PIPELINES_YAML} not found: run from the repository root"
    try:
        import bw_new_data_integration_spark  # noqa: F401
    except ImportError as exc:
        return f"the engine package is not importable: {exc}"
    return None


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.common import adopt_orphans

    adopt_orphans()

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    why = _preflight()
    if why:
        print(why, file=sys.stderr)
        return 2
    result, sidecar = workloads.run(args, T0, RUNS_DIR)
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}" + (f"-{args.fault}" if args.fault else "")
    untraced = os.path.join(OUT_DIR, f"{tag}-untraced.json")
    if args.trace:
        try:
            with open(untraced) as f:
                base = json.load(f)["timed_wall_s"]
            sidecar["trace.overhead_s"] = sidecar["timed_wall_s"] - base
        except (OSError, ValueError, KeyError):
            sidecar["trace.overhead_s"] = None  # no untraced run of this seed yet
        path = os.path.join(OUT_DIR, f"{tag}-trace.json")
    else:
        path = untraced
    with open(path, "w") as f:
        json.dump(sidecar, f, indent=1, sort_keys=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
