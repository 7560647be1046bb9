"""Compute the expected-output pins (row count, order-insensitive hash)
of every workload query on its generated dataset, and check each query
against its DuckDB oracle on the same data before writing them.

    python3 perfbench/pin.py [--out perfbench/pins.json] [--workload W ...]

Pins come from two fresh-process passes in different query orders,
which must agree. A query whose oracle disagrees is reported and left
unpinned, so the benchmark counts it as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent / "tests"))
sys.path.insert(0, str(HERE))

from run import CACHE, NPROC, ensure_dataset, run_pass  # noqa: E402
from one_pass import query_order  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def pin_workload(name: str) -> dict:
    data, _ = ensure_dataset(WORKLOADS[name]["dataset"])
    none = CACHE / "no-pins.json"
    none.write_text("{}")
    recs = []
    other = next(s for s in range(2, 100) if query_order(name, s) != query_order(name, 1))
    for seed in (1, other):
        rec = run_pass(name, seed, data, none, 0, time.monotonic() + 600)
        if rec is None:
            raise RuntimeError(f"{name}: pass failed")
        recs.append(rec)
    pins = {}
    for q in WORKLOADS[name]["queries"]:
        got = [(r["queries"][q].get("rows"), r["queries"][q].get("hash")) for r in recs]
        if got[0][0] is None or got[0] != got[1]:
            print(f"UNSTABLE {name}/{q}: {got}", file=sys.stderr)
            continue
        pins[q] = list(got[0])

    from _harness import compare

    from dataengineeringproject_spark.session import get_spark

    # the engine's temp dirs go under the cache, removed afterwards
    tempfile.tempdir = tempfile.mkdtemp(dir=CACHE)
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    spark = get_spark("perfbench-pin")
    try:
        for q in list(pins):
            ok, msg = compare(spark, q, str(data))
            print(f"{'OK ' if ok else 'BAD'} {name}/{q}: {msg}", file=sys.stderr)
            if not ok:
                del pins[q]
    finally:
        spark.stop()
        shutil.rmtree(tempfile.tempdir, ignore_errors=True)
        tempfile.tempdir = None
    return pins


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", type=Path, default=HERE / "pins.json")
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    pins = json.loads(args.out.read_text()) if args.out.exists() else {}
    for name in args.workload or sorted(WORKLOADS):
        pins[name] = pin_workload(name)
    args.out.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
