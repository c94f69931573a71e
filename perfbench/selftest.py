"""Self-tests of the benchmark's checks and counters.

    python3 perfbench/selftest.py [--seed N] [--workload NAME ...]

Run from the repository root. For each workload:

1. fault injection: a run with the workload's fault (nightly: the sink
   drops one ``$batch``; weekly: the cube alters one cell; query_mix:
   one query row is changed) must report more failed operations than a
   clean run of the same seed;
2. determinism: two traced runs of the same seed must report identical
   structural counts (jobs, stages, tasks, rows, batches, requests).

Prints one line per check and exits 1 if any fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.getcwd())

from perfbench.workloads import DETERMINISTIC, WORKLOADS  # noqa: E402

FAULTS = {
    "nightly_incremental": "sink_drop_batch",
    "weekly_full_refresh": "cube_cell",
    "query_mix": "query_row",
}


def bench(workload: str, seed: int, trace: int, fault: str | None = None) -> dict:
    # one second: every workload runs only its minimum (one night, week or
    # pass), so the runs compared do the same number of operations
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    if fault:
        cmd += ["--fault", fault]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workload", nargs="*", default=list(WORKLOADS), choices=WORKLOADS)
    args = ap.parse_args(argv)
    ok = True
    for w in args.workload:
        clean = bench(w, args.seed, 0)
        faulted = bench(w, args.seed, 0, FAULTS[w])
        passed = faulted["failed"] > clean["failed"]
        ok &= passed
        print(f"{'PASS' if passed else 'FAIL'} {w} fault {FAULTS[w]}: "
              f"failed {clean['failed']} clean -> {faulted['failed']} faulted")
        a, b = bench(w, args.seed, 1), bench(w, args.seed, 1)
        diff = {
            k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
            for k in DETERMINISTIC
            if a["metrics"][k]["value"] != b["metrics"][k]["value"]
        }
        same_ops = (a["attempted"], a["failed"]) == (b["attempted"], b["failed"])
        ok &= not diff and same_ops
        print(f"{'PASS' if not diff and same_ops else 'FAIL'} {w} traced counts repeat"
              + (f": differs {diff}" if diff else "")
              + ("" if same_ops else f": ops {a['attempted']}/{a['failed']} vs {b['attempted']}/{b['failed']}"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
