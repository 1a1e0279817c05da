"""Record the benchmark's output-check table, ``expected.json``.

Runs every registered catalog query once on the committed inputs under
``data/`` with the benchmark's session settings, and stores per query the
(row count, content hash) pair of the full-output action, plus the
SHA-256 of every input file.  Record it only at a commit whose oracle
run (``python scripts/verify_all.py``) passes in full.

    python3 perfbench/record_expected.py            # write expected.json
    python3 perfbench/record_expected.py --check    # compare, write nothing

``--check`` reruns every query in a fresh process and lists the queries
whose pair differs from the table: the cross-process stability check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import probes
import run

DATA_SCALE = "sf0.01"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    workdir = run.STATE / "runs" / f"record-{os.getpid()}"
    run.prepare_env(workdir, run.nproc())
    from real_estate_etl_dev_spark.plans import CATALOG
    from real_estate_etl_dev_spark.session import get_spark

    data_dir = run.DATA / DATA_SCALE
    inputs = {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(data_dir.glob("*.parquet"))}
    spark = get_spark("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    queries, failed = {}, []
    try:
        for name, q in CATALOG.items():
            try:
                rows, digest = probes.read_hash(probes.hash_frame(q.fn(spark, str(data_dir))))
            except Exception as exc:  # noqa: BLE001 - record every failure, then exit non-zero
                failed.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            queries[name] = [rows, digest]
            print(name, rows, digest, file=sys.stderr, flush=True)
    finally:
        run.stop_processes()
        os.chdir(run.ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    for f in failed:
        print("FAILED", f, file=sys.stderr)
    if args.check:
        want = json.loads(run.EXPECTED.read_text())
        moved = sorted(n for n in want["queries"] if queries.get(n) != want["queries"][n])
        print(json.dumps({"inputs_match": inputs == want["inputs"], "moved": moved}))
        return 1 if moved or failed or inputs != want["inputs"] else 0
    run.EXPECTED.write_text(json.dumps(
        {"data": DATA_SCALE, "inputs": inputs, "queries": queries}, indent=1, sort_keys=True) + "\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
