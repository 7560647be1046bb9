"""Self-test of the benchmark on a tiny generated dataset (scale 0.001).

    python3 perfbench/selftest.py

Checks that:
- a traced run of every workload prints every per-layer metric of
  BENCHMARK.json with its unit, and an untraced run every end-to-end one;
- traced and untraced passes produce the same outputs;
- the streaming listener sees at least one batch per streaming query;
- jobs run while a query is built are attributed to that query's job
  group, both by the status tracker and in the event log;
- a deliberately wrong pin is counted as a failed operation.
Exits 0 when every check holds. Takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import CACHE, ROOT  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = "0.001"


def bench(workload: str, trace: int, pins: Path) -> tuple[dict, dict]:
    """Run run.py once (one pass, or one traced pair); return its result
    line and its artifact."""
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", SCALE, "--pins", str(pins)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    if out.returncode != 0:
        raise SystemExit(f"run.py failed on {workload}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    art = json.loads(lines[-2])["artifact"]
    return json.loads(lines[-1]), json.loads((ROOT / art).read_text())


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems: list[str] = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    def units_match(result: dict, metrics: list[dict], label: str) -> None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        want = {m["name"]: m["unit"] for m in metrics}
        check(got == want, f"{label}: every metric printed with its unit")

    CACHE.mkdir(parents=True, exist_ok=True)
    none = CACHE / "selftest-no-pins.json"
    none.write_text("{}")
    pins: dict[str, dict] = {}
    for wl in WORKLOADS:
        result, art = bench(wl, 1, none)
        units_match(result, spec["per_layer"], f"{wl} traced")
        plain, traced = (
            [p for p in art["passes"] if ("eventlog" in p) == t] for t in (False, True)
        )
        outs = [
            {n: (q.get("rows"), q.get("hash")) for n, q in p["queries"].items()}
            for p in plain + traced
        ]
        check(all(o == outs[0] for o in outs) and None not in
              [r for r, _ in outs[0].values()],
              f"{wl}: every query ran; traced and untraced outputs agree")
        pins[wl] = {n: list(v) for n, v in outs[0].items()}
        rec = traced[0]
        for name, q in rec["queries"].items():
            if name.startswith("streaming_"):
                check(q.get("batches", 0) >= 1,
                      f"{wl}/{name}: listener saw {q.get('batches')} batches")
            if wl == "driver_loop":
                logged = rec["eventlog"]["group_jobs"].get(f"q:{name}", 0)
                check(q.get("build_jobs", 0) >= 1 and logged >= q["build_jobs"],
                      f"{wl}/{name}: {q.get('build_jobs')} build jobs in its "
                      f"job group ({logged} in the event log)")

    wl = "etl_batch"
    wrong = json.loads(json.dumps(pins))
    victim = sorted(wrong[wl])[0]
    wrong[wl][victim][1] = str(int(wrong[wl][victim][1]) + 1)
    wrong_p = CACHE / "selftest-wrong-pin.json"
    wrong_p.write_text(json.dumps(wrong))
    result, _ = bench(wl, 0, wrong_p)
    units_match(result, spec["end_to_end"], f"{wl} untraced")
    check(result["failed"] == 1 and not result["correct"],
          f"{wl}: a wrong pin for {victim} counts as exactly one failure "
          f"(failed={result['failed']} of {result['attempted']})")

    print("SELFTEST", "PASS" if not problems else f"FAIL ({len(problems)})")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
