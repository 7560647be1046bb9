"""One benchmark pass, in a fresh Python process with one fresh Spark
session: set up, run each of a workload's queries once in the order the
seed fixes, consume every result with one in-Spark hash aggregate, check
it against its pin, and write a JSON record.

    python3 perfbench/one_pass.py --workload W --seed N --data DIR \
        --pins FILE --trace 0|1 --out FILE

Run from a scratch working directory: Spark's warehouse, the JVM's temp
files and the engine's temp dirs all land under it (run.py arranges
this and removes the directory afterwards).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import random
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from workloads import WORKLOADS  # noqa: E402


def query_order(workload: str, seed: int) -> list[str]:
    names = list(WORKLOADS[workload]["queries"])
    random.Random(seed).shuffle(names)
    return names


def _hashable(col, dtype: T.DataType):
    """xxhash64 rejects maps; hash their JSON form instead."""
    def has_map(t):
        if isinstance(t, T.MapType):
            return True
        if isinstance(t, T.ArrayType):
            return has_map(t.elementType)
        if isinstance(t, T.StructType):
            return any(has_map(f.dataType) for f in t.fields)
        return False

    return F.to_json(col) if has_map(dtype) else col


def consume(df):
    """(row count, order-insensitive hash) of every output column, as
    one aggregate inside Spark: no rows cross to Python. The per-row
    xxhash64 is summed as DECIMAL(38,0), which cannot overflow."""
    cols = [
        _hashable(df[f"`{f.name}`"], f.dataType) for f in df.schema.fields
    ]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("h"), F.lit(0).cast("decimal(38,0)")).alias("s"),
    )


class _StreamRecorder:
    """StreamingQueryListener that keeps every progress event."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                rec.started += 1

            def onQueryProgress(self, event):
                rec.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                rec.terminated += 1

        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []
        self.listener = _L()

    def drain(self, timeout_s: float = 10.0) -> None:
        """Wait until every started stream's events have arrived."""
        end = time.perf_counter() + timeout_s
        while self.terminated < self.started and time.perf_counter() < end:
            time.sleep(0.01)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def _session_leftovers(spark) -> tuple[int, int]:
    """(persisted RDD count, their memory+disk bytes) via the JVM's
    JavaSparkContext developer API; PySpark exposes neither."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    nbytes = sum(i.memSize() + i.diskSize() for i in infos)
    return int(jsc.getPersistentRDDs().size()), int(nbytes)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--pins", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from dataengineeringproject_spark import registry
    from dataengineeringproject_spark.session import get_spark

    wl = WORKLOADS[args.workload]
    pins = json.loads(Path(args.pins).read_text()).get(args.workload, {})
    order = query_order(args.workload, args.seed)
    fns = registry.queries()
    hooks = {fn.__name__: fn for fn in registry._PRESTAGE}
    scratch = Path.cwd()
    conf = {
        "spark.sql.warehouse.dir": str(scratch / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
        "spark.local.dir": str(scratch),
    }
    evdir = scratch / "eventlog"
    if args.trace:
        evdir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    t_session = time.perf_counter()
    for h in wl["prestage"]:
        hooks[h](spark, args.data)
    t_setup = time.perf_counter()

    sc = spark.sparkContext
    rec = None
    if args.trace:
        rec = _StreamRecorder()
        spark.streams.addListener(rec.listener)

    per_query: dict[str, dict] = {}
    # spans: workload > query > {build, plan, exec}; Spark jobs and
    # micro-batches hang under their query via job group / time window
    spans: list[dict] = []

    def span(name: str, parent: str | None, start: float, end: float) -> None:
        spans.append({"name": name, "parent": parent, "start": start, "end": end})

    failed = 0
    t_first = time.perf_counter()
    epoch = time.time() - t_first  # perf_counter -> epoch seconds
    for name in order:
        q: dict = {"ok": False}
        per_query[name] = q
        if args.trace:
            sc.setJobGroup(f"q:{name}", name)
            n_prog = len(rec.progress)
        tb = time.perf_counter()
        try:
            df = fns[name](spark, args.data)
            te = time.perf_counter()
            span("build", f"q:{name}", epoch + tb, epoch + te)
            agg = consume(df)
            if args.trace:
                q["build_jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(f"q:{name}")
                )
                # force analysis, optimization and physical planning
                # through the public explain path, so the action below
                # starts from a planned query
                with contextlib.redirect_stdout(io.StringIO()):
                    agg.explain()
            tp = time.perf_counter()
            row = agg.first()
            tx = time.perf_counter()
            span("plan", f"q:{name}", epoch + te, epoch + tp)
            span("exec", f"q:{name}", epoch + tp, epoch + tx)
            q["rows"], q["hash"] = int(row["n"]), str(row["s"])
            pin = pins.get(name)
            q["ok"] = pin is not None and [q["rows"], q["hash"]] == pin
            q.update(build_s=te - tb, plan_s=tp - te, exec_s=tx - tp)
        except Exception as ex:  # a failing query is counted, not fatal
            q["error"] = f"{type(ex).__name__}: {ex}"[:500]
        if not q["ok"]:
            failed += 1
        if args.trace:
            q["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"q:{name}"))
            rec.drain()
            q["batches"] = len(rec.progress) - n_prog
            sc.setJobGroup("bench", "between queries")
        span(f"q:{name}", args.workload, epoch + tb, time.time())
    t_last = time.perf_counter()
    span(args.workload, None, epoch + t_first, epoch + t_last)

    out = {
        "workload": args.workload,
        "seed": args.seed,
        "order": order,
        "setup_s": t_setup - t0,
        "session_s": t_session - t0,
        "prestage_s": t_setup - t_session,
        "wall_s": t_last - t_first,
        "attempted": len(order),
        "failed": failed,
        "queries": per_query,
        "cores": sc.defaultParallelism,
        "spans": spans,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": sc.version,
    }
    if args.trace:
        out["persisted_rdds_after"], out["storage_bytes_after"] = (
            _session_leftovers(spark)
        )
        out["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        out["stream_progress"] = rec.progress
    spark.stop()
    if args.trace:
        from trace_fold import fold_event_log

        out["eventlog"] = fold_event_log(evdir)
    Path(args.out).write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
