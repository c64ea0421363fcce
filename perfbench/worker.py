"""One benchmark process: start a session, run passes, report as JSON.

Started by ``run.py`` as the leader of its own process group (so the
JVM and Python workers it spawns can be measured and stopped as one
tree). Every message is one stdout line ``PERFBENCH <json>``:

* ``ready`` once the session is up (import and get_spark times);
* ``pass`` with the wall-clock start and end of each timed pass;
* ``result`` after the passes.

With ``--setup-only`` it stops after ``ready`` and waits to be killed.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

MIN_PASSES = 2  # warm passes per untraced run, whatever --seconds says


def emit(event: str, **fields) -> None:
    print("PERFBENCH " + json.dumps({"event": event, **fields}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    import mape_calculation_and_anonymization_spark as pkg

    t1 = time.perf_counter()
    spark = pkg.get_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    t2 = time.perf_counter()
    emit("ready", import_s=t1 - _T0, get_spark_s=t2 - t1)
    if args.setup_only:
        signal.pause()
        return

    import procfs
    import tracing as trace
    from workloads import WORKLOADS

    with open(os.path.join(args.input_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    wl = WORKLOADS[args.workload](spark, args.input_dir, manifest, args.run_dir)
    sc = spark.sparkContext
    pgid = os.getpgrp()
    null = trace.NullTracer()
    spans: list[dict] = []
    errors: list[str] = []
    record = {"walls": [], "failed_walls": [], "failed": 0, "attempted": 0}

    def one_pass(tr, patch_points=()):
        wl.reset()
        cpu0 = procfs.group_cpu_seconds(pgid)
        start = time.time()
        t = time.perf_counter()
        result, problems = None, []
        try:
            if patch_points:
                with trace.patched(tr, patch_points), tr.span("bench", "pass"):
                    result = wl.run(tr)
            else:
                with tr.span("bench", "pass"):
                    result = wl.run(tr)
            wall = time.perf_counter() - t
            emit("pass", start=start, end=time.time())
            problems = wl.check(result)
        except Exception as exc:  # a failed pass is counted, not fatal
            wall = time.perf_counter() - t
            emit("pass", start=start, end=time.time())
            problems = [f"{type(exc).__name__}: {exc}"[:300]]
            traceback.print_exc(file=sys.stderr)
        cpu = procfs.group_cpu_seconds(pgid) - cpu0
        record["attempted"] += 1
        if problems:
            record["failed"] += 1
            errors.extend(problems[:3])
        return wall, result, not problems, cpu

    record["first_pass_s"] = one_pass(null)[0]
    deadline = time.perf_counter() + args.seconds

    if not args.trace:
        warm = 0
        while warm < MIN_PASSES or time.perf_counter() < deadline:
            wall, _res, ok, _cpu = one_pass(null)
            warm += 1
            record["walls" if ok else "failed_walls"].append(wall)
        record["bytes_out"] = wl.bytes_out()
    else:
        patch = trace.anonymize_patch_points() if args.workload == "daily_batch" else ()
        untraced, traced, layers = [], [], []
        # traced/untraced in ABBA blocks, so a warm-up trend cancels out
        # of the overhead estimate
        i = 0
        while i % 4 or i < 4 or time.perf_counter() < deadline:
            if i % 4 in (1, 2):
                wall, _res, ok, _cpu = one_pass(null)
                if ok:
                    untraced.append(wall)
            else:
                tr = trace.Tracer(sc, f"pass{i}")
                wall, res, ok, cpu = one_pass(tr, patch)
                if ok:
                    traced.append(wall)
                    m = trace.attribute(spark, tr)
                    m.update(wl.counters(res))
                    m["process.cpu_s"] = cpu
                    layers.append(m)
                spans.extend(s.as_dict() for s in tr.spans)
            i += 1
        metrics = {k: statistics.fmean(m.get(k, 0.0) for m in layers) for k in layers[0]} if layers else {}
        new_uids = metrics.get("operators.keys.new_uids", 0.0)
        metrics["operators.keys.rows_hashed_per_new_uid"] = (
            metrics.get("functions.hashing.rows_in", 0.0) / new_uids if new_uids else 0.0
        )
        metrics["session.import_s"] = t1 - _T0
        metrics["session.get_spark_s"] = t2 - t1
        metrics["session.wall_s"] = t2 - _T0
        metrics["session.driver_s"] = t2 - _T0
        metrics["spark.persistent_rdds_left"] = sc._jsc.getPersistentRDDs().size()
        metrics["process.first_pass_s"] = record["first_pass_s"]
        if traced and untraced:
            metrics["trace.overhead_s"] = statistics.fmean(traced) - statistics.fmean(untraced)
        record["layers"] = metrics
        record["walls"] = untraced
        with open(os.path.join(args.run_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)
    record["errors"] = errors[:10]
    record["persistent_rdds_left"] = sc._jsc.getPersistentRDDs().size()
    emit("result", **record)
    signal.pause()  # the caller stops the whole process group


if __name__ == "__main__":
    main()
