"""Engine benchmark: one workload, measured over fresh-process passes.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first call
generates the benchmark's datasets (datagen.py) under perfbench/.cache;
later calls reuse them. Each pass is one fresh Python process with one
`local[nproc]` Spark session (one_pass.py) in its own scratch directory,
removed afterwards. Passes repeat while another one fits in --seconds;
there is always at least one. The seed fixes the order of the
workload's queries; the data does not depend on it.

--trace 0 reports the end-to-end metrics (medians over passes).
--trace 1 runs untraced/traced pass pairs and reports the per-layer
metrics from the traced passes, plus the tracing overhead.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
A full record of the run, with the environment it ran in, is written
under perfbench/.cache/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
sys.path.insert(0, str(HERE))

from workloads import DATASETS, WORKLOADS  # noqa: E402

RUN_LIMIT_S = 170.0  # a run ends within this, whatever --seconds says
NPROC = len(os.sched_getaffinity(0))

END_TO_END = {"wall_s": "s", "setup_s": "s"}

_LAYER_FIXED = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.persisted_rdds_after": "count",
    "session.storage_bytes_after": "bytes",
    "registry.prestage_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_frac": "fraction",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "exec.core_busy_frac": "fraction",
    "sources.input_rows": "rows",
    "sources.input_bytes": "bytes",
    "sources.output_rows": "rows",
    "sources.output_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.rows_per_s": "rows/s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms",
    "streaming.overhead_frac": "fraction",
    "streaming.input_rows": "rows",
    "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "error_rate": "fraction",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, the same on every workload
    (metrics of queries a workload does not run read 0)."""
    units = dict(_LAYER_FIXED)
    for wl in WORKLOADS.values():
        for q in wl["queries"]:
            units[f"q.{q}.build_s"] = "s"
            units[f"q.{q}.exec_s"] = "s"
            units[f"q.{q}.jobs"] = "count"
    return units


# --- datasets ---------------------------------------------------------


def _fingerprint(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def ensure_dataset(name: str, scale: float | None = None) -> tuple[Path, dict]:
    """Generate a dataset once per checkout; verify and reuse it after.
    Returns (dir, manifest)."""
    import datagen

    scale = DATASETS[name] if scale is None else scale
    d = CACHE / "data" / f"{name}-{scale}-v{datagen.VERSION}"
    manifest_p = d / "manifest.json"
    if not manifest_p.exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        rows = datagen.generate(tmp, scale)
        (tmp / "manifest.json").write_text(json.dumps(
            {"scale": scale, "rows": rows, "fingerprint": _fingerprint(tmp)}
        ))
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    manifest = json.loads(manifest_p.read_text())
    import pyarrow.parquet as pq

    for t, n in manifest["rows"].items():
        got = pq.ParquetFile(d / f"{t}.parquet").metadata.num_rows
        if got != n:
            raise RuntimeError(f"dataset {d}: {t} has {got} rows, expected {n}")
    return d, manifest


# --- passes -------------------------------------------------------------


def _end_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a pass's process group (its JVM and Python
    workers) and wait, bounded, until the group is gone."""
    end = time.monotonic() + 10.0
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while time.monotonic() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_pass(workload: str, seed: int, data: Path, pins: Path, trace: int,
             deadline: float) -> dict | None:
    """One fresh-process pass in its own scratch dir; None on failure."""
    runs = CACHE / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    scratch = runs / f"{os.getpid()}-{time.monotonic_ns()}"
    scratch.mkdir()
    out = scratch / "pass.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_DRIVER_MEM="4g",
        TMPDIR=str(scratch),
        SPARK_LOCAL_DIRS=str(scratch),
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_GRAFT_STREAM_CKPT_BASE", None)
    cmd = [
        sys.executable, str(HERE / "one_pass.py"), "--workload", workload,
        "--seed", str(seed), "--data", str(data), "--pins", str(pins),
        "--trace", str(trace), "--out", str(out),
    ]
    log = scratch / "pass.log"
    t0 = time.perf_counter()
    try:
        with log.open("wb") as fh:
            proc = subprocess.Popen(
                cmd, cwd=scratch, env=env, stdout=fh, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                pass
            finally:
                _end_group(proc)
        if proc.returncode != 0 or not out.exists():
            tail = log.read_text(errors="replace")[-3000:]
            print(f"pass failed (rc={proc.returncode}):\n{tail}", file=sys.stderr)
            return None
        rec = json.loads(out.read_text())
        rec["process_s"] = time.perf_counter() - t0
        return rec
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --- metrics --------------------------------------------------------------


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(rec: dict) -> dict[str, float]:
    """Per-layer metrics of one traced pass record."""
    qs = rec["queries"].values()
    ev = rec["eventlog"]
    build = sum(q.get("build_s", 0.0) for q in qs)
    prog = rec["stream_progress"]
    dur = [p.get("durationMs", {}) for p in prog]
    trig = sum(d.get("triggerExecution", 0) for d in dur)
    overhead = sum(
        d.get(k, 0) for d in dur
        for k in ("queryPlanning", "getBatch", "latestOffset", "walCommit",
                  "commitOffsets")
    )
    in_rows = sum(p.get("numInputRows", 0) for p in prog)
    # state size: each stream's last batch, summed over streams
    last = {p["runId"]: p for p in prog}
    ops_last = [o for p in last.values() for o in p.get("stateOperators", [])]
    m = {
        "session.start_s": rec["session_s"],
        "session.jvm_peak_rss_mb": rec["jvm_peak_rss_mb"],
        "session.persisted_rdds_after": rec["persisted_rdds_after"],
        "session.storage_bytes_after": rec["storage_bytes_after"],
        "registry.prestage_s": rec["prestage_s"],
        "queries.build_s": build,
        "queries.build_jobs": sum(q.get("build_jobs", 0) for q in qs),
        "queries.build_frac": build / rec["wall_s"],
        "plan.plan_s": sum(q.get("plan_s", 0.0) for q in qs),
        "exec.exec_s": sum(q.get("exec_s", 0.0) for q in qs),
        "exec.jobs": ev["jobs"],
        "exec.stages": ev["stages"],
        "exec.core_busy_frac": ev["executor_run_ms"]
        / (rec["wall_s"] * 1000.0 * rec["cores"]),
        "sources.input_rows": ev["input_rows"],
        "sources.input_bytes": ev["input_bytes"],
        "sources.output_rows": ev["output_rows"],
        "sources.output_bytes": ev["output_bytes"],
        "streaming.batches": len(prog),
        "streaming.batch_p50_ms": _med([d.get("triggerExecution", 0) for d in dur]),
        "streaming.rows_per_s": in_rows / (trig / 1000.0) if trig else 0.0,
        "streaming.trigger_ms": trig,
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.overhead_ms": overhead,
        "streaming.overhead_frac": overhead / trig if trig else 0.0,
        "streaming.input_rows": in_rows,
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in ops_last),
        "streaming.state_memory_bytes": sum(
            o.get("memoryUsedBytes", 0) for o in ops_last
        ),
        "streaming.state_commit_ms": sum(
            o.get("commitTimeMs", 0) for p in prog for o in p.get("stateOperators", [])
        ),
        "error_rate": rec["failed"] / rec["attempted"],
    }
    for k in ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "failed_tasks"):
        m[f"exec.{k}"] = ev[k]
    for name, q in rec["queries"].items():
        m[f"q.{name}.build_s"] = q.get("build_s", 0.0)
        m[f"q.{name}.exec_s"] = q.get("exec_s", 0.0)
        m[f"q.{name}.jobs"] = q.get("jobs", 0)
    return m


def _environment(workload: str, seed: int, manifest: dict, rec: dict) -> dict:
    return {
        "nproc": NPROC,
        "SPARK_GRAFT_CPUS": NPROC,
        "java": rec["java"],
        "pyspark": rec["pyspark"],
        "python": sys.version.split()[0],
        "workload": workload,
        "seed": seed,
        "dataset": manifest,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: a smaller dataset and its own pins
    ap.add_argument("--scale", type=float, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--pins", type=Path, default=HERE / "pins.json",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    args.pins = args.pins.resolve()

    if not (ROOT / "dataengineeringproject_spark" / "registry.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    import pyspark  # noqa: F401  (fail before generating data)

    start = time.monotonic()
    deadline = start + RUN_LIMIT_S
    wl = WORKLOADS[args.workload]
    data, manifest = ensure_dataset(wl["dataset"], args.scale)

    plain: list[dict] = []
    traced: list[dict] = []
    lost = 0  # queries of a pass that crashed or ran out of time
    t_measure = time.monotonic()
    while True:
        kinds = (0, 1) if args.trace else (0,)
        for kind in kinds:
            rec = run_pass(args.workload, args.seed, data, args.pins, kind, deadline)
            if rec is None:
                lost = len(wl["queries"])
                break
            (traced if kind else plain).append(rec)
        if lost:
            break
        # start another round only if it fits in --seconds and the limit
        elapsed = time.monotonic() - t_measure
        rounds = len(plain)
        per_round = elapsed / rounds
        if (elapsed + per_round > args.seconds
                or time.monotonic() + 1.5 * per_round > deadline):
            break
    if not plain or (args.trace and not traced):
        print("no pass completed", file=sys.stderr)
        return 1

    recs = plain + traced
    attempted = sum(r["attempted"] for r in recs) + lost
    failed = sum(r["failed"] for r in recs) + lost
    if args.trace:
        layer = [layer_metrics(r) for r in traced]
        units = per_layer_units()
        values = {k: _med([m.get(k, 0.0) for m in layer]) for k in units}
        n = min(len(plain), len(traced))
        values["trace.overhead_s"] = _med(
            [traced[i]["wall_s"] - plain[i]["wall_s"] for i in range(n)]
        )
    else:
        units = END_TO_END
        values = {
            "wall_s": _med([r["wall_s"] for r in plain]),
            "setup_s": _med([r["setup_s"] for r in plain]),
        }
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    env = _environment(args.workload, args.seed, manifest, recs[0])
    results = CACHE / "results"
    results.mkdir(parents=True, exist_ok=True)
    art = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    art.write_text(json.dumps(
        {"environment": env, "metrics": metrics, "passes": recs}, indent=1
    ))
    print(json.dumps({"environment": env, "artifact": str(art.relative_to(ROOT))}))
    for r in recs:
        for name, q in r["queries"].items():
            if not q["ok"]:
                print(f"FAILED {name}: {q.get('error') or [q.get('rows'), q.get('hash')]}",
                      file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
