"""One-off note: how much work ``count()`` skips against the full-output action.

For every workload query, in one warm session, times the action alone
(the plan call is made fresh each time and not counted) as ``count()``
and as the benchmark's full-output hash action, median of three each,
and prints a markdown table.  A row is flagged when ``count()`` takes
less than half the full-output time, i.e. Catalyst pruned most of the
projected work away.  Runs outside the benchmark's timed and traced runs.

    python3 perfbench/count_pruning.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import probes
import run
import workloads

REPEATS = 3


def main() -> int:
    workdir = run.STATE / "runs" / f"count-{os.getpid()}"
    run.prepare_env(workdir, run.nproc())
    from real_estate_etl_dev_spark.plans import CATALOG
    from real_estate_etl_dev_spark.session import get_spark

    data_dir = run.check_inputs(json.loads(run.EXPECTED.read_text()))
    spark = get_spark("perfbench-count")
    spark.sparkContext.setLogLevel("ERROR")

    def action_s(name: str, full: bool) -> float:
        df = CATALOG[name].fn(spark, data_dir)
        t = time.perf_counter()
        if full:
            probes.read_hash(probes.hash_frame(df))
        else:
            df.count()
        return time.perf_counter() - t

    rows = []
    try:
        for wl, names in workloads.WORKLOADS.items():
            for name in names:
                action_s(name, True)  # warm-up
                count = statistics.median(action_s(name, False) for _ in range(REPEATS))
                full = statistics.median(action_s(name, True) for _ in range(REPEATS))
                rows.append((wl, name, count, full))
                print(wl, name, f"{count:.3f}", f"{full:.3f}", file=sys.stderr, flush=True)
    finally:
        run.stop_processes()
        os.chdir(run.ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    print("| workload | query | count() s | full-output s | count/full | pruned |")
    print("|---|---|---:|---:|---:|---|")
    for wl, name, count, full in rows:
        ratio = count / full
        print(f"| {wl} | {name} | {count:.3f} | {full:.3f} | {ratio:.2f} | {'yes' if ratio < 0.5 else ''} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
