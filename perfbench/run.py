"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 1 --trace 0

Run from the repository root. Generates (or reuses) the seeded inputs
under ``.perfbench/``, measures session set-up in fresh processes,
then runs one worker process: a first pass, then warm passes for
``--seconds``, each checked for correctness. Prints the metrics by
name and unit, then as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(see README.md).

Everything it writes stays under ``.perfbench/`` in the checkout; every
process it starts is stopped and waited for before it exits.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import queue  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

import gen  # noqa: E402
import procfs  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "mape_calculation_and_anonymization_spark")

SETUP_SAMPLES = 2  # fresh processes timed from start to a ready session
DEADLINE_S = 170.0  # whole run, including set-up and shutdown
DRIVER_MEM = "1g"
END_TO_END = (
    ("wall_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("bytes_out_per_in", "ratio"),
)


class WorkerFailed(RuntimeError):
    pass


class Worker:
    """One ``worker.py`` process, leader of its own process group."""

    def __init__(self, argv: list[str], env: dict, log_path: str):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            cwd=ROOT,
            env=env,
            stdout=subprocess.PIPE,
            stderr=self.log,
            text=True,
            start_new_session=True,
        )
        self.log_path = log_path
        self.lines: queue.Queue = queue.Queue()
        self.passes: list[tuple[float, float]] = []  # wall-clock (start, end)
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                msg = json.loads(line[len("PERFBENCH "):])
                if msg["event"] == "pass":
                    self.passes.append((msg["start"], msg["end"]))
                else:
                    self.lines.put(msg)
        self.lines.put(None)

    def wait_for(self, event: str, deadline: float) -> dict:
        while True:
            try:
                msg = self.lines.get(timeout=max(0.01, deadline - time.perf_counter()))
            except queue.Empty:
                raise WorkerFailed(f"no '{event}' from the worker before the deadline")
            if msg is None:
                raise WorkerFailed(f"worker exited before '{event}' (see {self.log_path})")
            if msg["event"] == event:
                return msg

    def stop(self) -> None:
        """Kill the whole group (driver, JVM, Python workers) and wait
        until none of it is left."""
        pgid = self.proc.pid
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        end = time.perf_counter() + 20.0
        while procfs.group_pids(pgid) and time.perf_counter() < end:
            time.sleep(0.05)
        self.proc.stdout.close()
        self.log.close()


class RssSampler:
    """Resident set of a process group, sampled from /proc."""

    def __init__(self, pgid: int, period: float = 0.1):
        self.pgid, self.period = pgid, period
        self.samples: list[tuple[float, int]] = []  # (wall clock, bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), procfs.group_rss_bytes(self.pgid)))
            self._stop.wait(self.period)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    def pass_peak(self, passes: list[tuple[float, float]]) -> float:
        """Median over passes of each pass's peak: one pass's transient
        spike (a Python worker pool growing, a late GC) does not set
        the figure, a pass-wide rise does."""
        peaks = [
            max((rss for t, rss in self.samples if start <= t <= end), default=0)
            for start, end in passes
        ]
        peaks = [p for p in peaks if p] or [max(rss for _t, rss in self.samples)]
        return statistics.median(peaks)


def worker_env(work: str, cores: int) -> dict:
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    return env


def measure(args, work: str) -> tuple[dict, list[float]]:
    cores = len(os.sched_getaffinity(0))
    input_dir, manifest = gen.ensure_inputs(work, args.workload, args.seed)
    run_dir = os.path.join(work, "run", args.workload)
    for d in (run_dir, os.path.join(work, "tmp")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = worker_env(work, cores)
    deadline = time.perf_counter() + DEADLINE_S
    argv = ["--workload", args.workload, "--input-dir", input_dir, "--run-dir", run_dir]

    setup = []
    if not args.trace:
        for i in range(SETUP_SAMPLES - 1):
            t = time.perf_counter()
            w = Worker([*argv, "--setup-only"], env, os.path.join(run_dir, f"setup{i}.log"))
            try:
                w.wait_for("ready", deadline)
                setup.append(time.perf_counter() - t)
            finally:
                w.stop()

    t = time.perf_counter()
    w = Worker(
        [*argv, "--seconds", str(args.seconds), "--trace", str(args.trace)],
        env,
        os.path.join(run_dir, "worker.log"),
    )
    rss = RssSampler(w.proc.pid)
    try:
        w.wait_for("ready", deadline)
        setup.append(time.perf_counter() - t)
        result = w.wait_for("result", deadline)
    finally:
        w.stop()
        rss.close()
    result.update(cores=cores, peak_rss=rss.pass_peak(w.passes), input_bytes=manifest["input_bytes"])
    return result, setup


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft end-to-end benchmark")
    ap.add_argument("--workload", choices=gen.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        print(f"error: package not found at {PACKAGE}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    try:
        res, setup = measure(args, work)
    except WorkerFailed as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    for line in report(args.workload, args.seed, args.trace, res, setup):
        print(line)
    return 0


def report(workload: str, seed: int, trace: int, res: dict, setup: list[float]) -> list[str]:
    """Human-readable lines, then the one-line JSON result last."""
    walls = res["walls"]
    if trace:
        layers = res.get("layers", {})
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in tracing.per_layer_metrics()}
    else:
        values = {
            # a run whose passes all failed is reported, never as NaN
            "wall_s": statistics.median(walls or res.get("failed_walls") or [0.0]),
            "setup_s": statistics.median(setup),
            "peak_rss_mb": res["peak_rss"] / 1e6,
            "bytes_out_per_in": res["bytes_out"] / res["input_bytes"],
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}

    lines = [f"workload={workload} seed={seed} cores={res['cores']} trace={trace} "
             f"warm_passes={len(walls)}"]
    if walls:
        lines.append("warm passes s: " + " ".join(f"{w:.3f}" for w in walls))
    if not trace:
        lines.append("setup samples s: " + " ".join(f"{s:.3f}" for s in setup))
    lines.append(f"persistent_rdds_left {res['persistent_rdds_left']}")
    lines += [f"problem: {e}" for e in res["errors"]]
    if not trace:
        lines += [f"{name} {m['value']:.6g} {m['unit']}" for name, m in metrics.items()]
        # printed with the metrics but not bounded: one cold-start sample per run
        lines.append(f"first_pass_s {res['first_pass_s']:.6g} s")
        lines.append(f"failed_share {res['failed'] / res['attempted']:.6g} ratio")
    lines.append(json.dumps({
        "correct": res["failed"] == 0 and bool(walls),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return lines


if __name__ == "__main__":
    sys.exit(main())
