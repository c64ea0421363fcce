"""Spans around calls into the package, and per-layer Spark accounting.

A span records name, start, end, parent and run id, and is kept in
memory. Its layer is the package module called into (``operators.mape``,
``functions.hashing`` …). Opening a span also sets it as the Spark job
group, so after a pass the jobs, stages and SQL metrics in Spark's own
status stores (populated with the UI off) can be attributed to it:

* ``statusStore().jobsList`` → each job's group, stages and times;
* ``statusStore().lastStageAttempt`` → run/CPU time, shuffle, spill;
* the SQL status store's plan graph and metrics → Python-worker time
  and row counts per physical operator.

Attribution unit is the stage. A stage belongs to the span whose job
submitted it, except a stage that evaluates the ``blake2b_10hex``
pandas UDF: that one belongs to ``functions.hashing`` (the UDF is
built lazily by ``operators.keys`` and runs inside its write job), and
its wall interval moves from the submitting span's self time to the
hashing layer.
"""

from __future__ import annotations

import contextlib
import time

PKG = "mape_calculation_and_anonymization_spark"

LAYERS = (
    "session",
    "sources.readers",
    "operators.mape",
    "sources.sinks",
    "operators.anonymize",
    "functions.labels",
    "functions.hashing",
    "operators.keys",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
)
GENERIC = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
)
SPECIAL = (
    ("session.import_s", "s"),
    ("session.get_spark_s", "s"),
    ("operators.mape.plan_s", "s"),
    ("sources.sinks.bytes_written_mb", "MB"),
    ("functions.hashing.python_run_s", "s"),
    ("functions.hashing.python_start_s", "s"),
    ("functions.hashing.rows_in", "count"),
    ("operators.keys.new_uids", "count"),
    ("operators.keys.rows_hashed_per_new_uid", "ratio"),
    ("operators.dedup.verified_share", "ratio"),
    ("spark.executor_busy_share", "ratio"),
    ("spark.persistent_rdds_left", "count"),
    ("spark.jobs", "count"),
    ("process.cpu_s", "s"),
    ("process.first_pass_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.layer_wall_share", "ratio"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    return [(f"{layer}.{m}", u) for layer in LAYERS for m, u in GENERIC] + list(SPECIAL)


def layer_of(fn) -> str:
    """Layer of a package function: its module path below the package."""
    return fn.__module__.removeprefix(PKG + ".")


class NullTracer:
    """Untraced passes: spans cost one no-op context manager."""

    @contextlib.contextmanager
    def span(self, layer: str, label: str | None = None):
        yield


class Span:
    __slots__ = ("idx", "layer", "label", "parent", "run_id", "start", "end")

    def __init__(self, idx, layer, label, parent, run_id, start):
        self.idx, self.layer, self.label = idx, layer, label
        self.parent, self.run_id, self.start, self.end = parent, run_id, start, None

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    """Records spans of one traced pass; the span is the Spark job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{self.run_id}/{span.idx}"

    @contextlib.contextmanager
    def span(self, layer: str, label: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, label, parent.idx if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group(s), f"{layer}:{label or ''}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


@contextlib.contextmanager
def patched(tracer: Tracer, points):
    """Wrap ``module.attr`` call sites in spans of the callee's layer for
    the duration of the block (used where one public call fans out
    into several layers, as ``anonymize_files`` does)."""
    saved = []
    for module, attr in points:
        fn = getattr(module, attr)
        layer = layer_of(fn)

        def wrapper(*args, __fn=fn, __layer=layer, __attr=attr, **kwargs):
            with tracer.span(__layer, __attr):
                return __fn(*args, **kwargs)

        saved.append((module, attr, fn))
        setattr(module, attr, wrapper)
    try:
        yield
    finally:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)


def anonymize_patch_points():
    from mape_calculation_and_anonymization_spark.operators import anonymize, keys

    return [
        (anonymize, "read_input_folder"),
        (anonymize, "lowercase_columns"),
        (anonymize, "label_universe"),
        (anonymize, "anonymize_label_column"),
        (anonymize, "uid_anonymization"),
        (anonymize, "anonymized_output_name"),
        (keys, "load_key_table"),
        (keys, "save_key_table"),
        (keys, "blake2b_10hex"),
    ]


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(base, cuts):
    """Intervals of ``base`` not covered by ``cuts`` (both lists of [a, b])."""
    out = []
    cuts = _union(cuts)
    for a, b in base:
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append([cur, c])
            cur = max(cur, d)
        if cur < b:
            out.append([cur, b])
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _parse_metric(text: str) -> float:
    """A formatted SQL metric ("1.9 s", "874 ms", "167.7 KiB", "20,000",
    or "total (min, med, max …)\\nVALUE (…)") as seconds, bytes or a count."""
    line = text.split("\n")[-1] if "\n" in text else text
    line = line.split(" (")[0].strip()
    parts = line.split()
    value = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    scale = {
        "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
        "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    }
    return value * scale.get(unit, 1.0)


def _graph_names(cluster, out: list[str]) -> list[str]:
    nodes = cluster.childNodes()
    for i in range(nodes.size()):
        out.append(nodes.apply(i).name())
    subs = cluster.childClusters()
    for i in range(subs.size()):
        out.append(subs.apply(i).name())
        _graph_names(subs.apply(i), out)
    return out


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def attribute(spark, tracer: Tracer) -> dict:
    """Per-layer metrics of the spans of one traced pass."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    by_group = {tracer.group(s): s for s in tracer.spans}

    jobs = {}
    for j in _seq(store.jobsList(None)):
        g = j.jobGroup()
        if g.isDefined() and g.get() in by_group:
            jobs[j.jobId()] = {
                "span": by_group[g.get()],
                "interval": [_ms(j.submissionTime()), _ms(j.completionTime())],
                "stages": list(_seq(j.stageIds())),
            }

    # SQL executions of this pass: hashing stages, Python-worker metrics
    # and the LSH candidate/verified row counts.
    hashing_stages: set[int] = set()
    py = {"python_run_s": 0.0, "python_start_s": 0.0, "rows_in": 0.0}
    candidates = verified = 0.0
    for e in _seq(sql.executionsList()):
        job_ids = [int(k) for k in _seq(e.jobs().keys().toSeq())]
        if not any(k in jobs for k in job_ids):
            continue
        graph = sql.planGraph(e.executionId())
        values = sql.executionMetrics(e.executionId())
        nodes = {n.id(): n for n in _seq(graph.allNodes())}

        def metric(node, name):
            for m in _seq(node.metrics()):
                if m.name() == name and values.contains(m.accumulatorId()):
                    return _parse_metric(values.apply(m.accumulatorId()))
            return None

        hashed = False
        for n in nodes.values():
            if n.name() == "ArrowEvalPython" and "blake2b_10hex" in n.desc():
                hashed = True
                py["python_run_s"] += metric(n, "time to run Python workers") or 0.0
                py["python_start_s"] += metric(n, "time to start Python workers") or 0.0
                py["rows_in"] += metric(n, "number of output rows") or 0.0
        if hashed:
            for sid in _seq(e.stages().toSeq()):
                names = _graph_names(store.operationGraphForStage(sid).rootCluster(), [])
                if "ArrowEvalPython" in names:
                    hashing_stages.add(int(sid))
        # verified pairs / LSH candidates: the exact-Jaccard threshold
        # rides the verify join's condition, and the join below it (the
        # candidates meeting their first shingle side) feeds it every
        # candidate pair.
        children: dict = {}
        for edge in _seq(graph.edges()):
            children.setdefault(edge.toId(), []).append(edge.fromId())
        for n in nodes.values():
            if "Join" in n.name() and "array_intersect" in n.desc():
                below = list(children.get(n.id(), []))
                fed = None
                while below and fed is None:
                    nxt = []
                    for c in below:
                        if "Join" in nodes[c].name():
                            fed = metric(nodes[c], "number of output rows")
                        elif "Exchange" not in nodes[c].name():
                            nxt.extend(children.get(c, []))
                    below = nxt
                kept = metric(n, "number of output rows")
                if kept is not None and fed:
                    verified += kept
                    candidates += fed

    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _u in GENERIC}

    def add(layer, metric, value):
        key = f"{layer}.{metric}"
        if key in out:
            out[key] += value

    # stages → layer
    seen_stages: set[int] = set()
    layer_jobs: dict[str, list] = {}
    busy_ms = 0.0
    sink_bytes = 0.0
    hashing_wall = {}  # span idx → hashing stage intervals
    for job in jobs.values():
        span = job["span"]
        hashed = [sid for sid in job["stages"] if sid in hashing_stages]
        add("functions.hashing" if hashed else span.layer, "jobs", 1)
        if None not in job["interval"]:
            layer_jobs.setdefault(span.layer, []).append(job["interval"])
        for sid in job["stages"]:
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage evicted or never attempted
                continue
            if str(st.status()) not in ("COMPLETE", "FAILED"):
                continue
            layer = span.layer
            if sid in hashing_stages:
                layer = "functions.hashing"
                iv = [_ms(st.submissionTime()), _ms(st.completionTime())]
                if None not in iv:
                    hashing_wall.setdefault(span.idx, []).append(iv)
                    layer_jobs.setdefault(layer, []).append(iv)
            add(layer, "tasks", st.numTasks())
            add(layer, "executor_run_s", st.executorRunTime() / 1e3)
            add(layer, "executor_cpu_s", st.executorCpuTime() / 1e9)
            add(layer, "shuffle_write_mb", st.shuffleWriteBytes() / 1e6)
            add(layer, "spill_mb", (st.diskBytesSpilled() + st.memoryBytesSpilled()) / 1e6)
            busy_ms += st.executorRunTime()
            if layer == "sources.sinks":
                sink_bytes += st.outputBytes()

    # self time per span, minus hashing stages; driver time per layer
    kids: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append([s.start * 1e3, s.end * 1e3])
    self_iv: dict[str, list] = {}
    for s in tracer.spans:
        own = _subtract([[s.start * 1e3, s.end * 1e3]], kids.get(s.idx, []))
        hashing = _union(hashing_wall.get(s.idx, []))
        self_iv.setdefault(s.layer, []).extend(_subtract(own, hashing))
        # own ∩ hashing
        self_iv.setdefault("functions.hashing", []).extend(_subtract(own, _subtract(own, hashing)))
    for layer, ivs in self_iv.items():
        add(layer, "wall_s", _length(ivs) / 1e3)
        add(layer, "driver_s", _length(_subtract(ivs, layer_jobs.get(layer, []))) / 1e3)

    root = tracer.spans[0]
    pass_ms = (root.end - root.start) * 1e3
    traced = sum(out[f"{layer}.wall_s"] for layer in LAYERS) * 1e3
    out.update({
        "sources.sinks.bytes_written_mb": sink_bytes / 1e6,
        "functions.hashing.python_run_s": py["python_run_s"],
        "functions.hashing.python_start_s": py["python_start_s"],
        "functions.hashing.rows_in": py["rows_in"],
        "operators.mape.plan_s": sum(
            s.end - s.start for s in tracer.spans if s.layer == "operators.mape" and s.label == "plan"
        ),
        "operators.dedup.verified_share": verified / candidates if candidates else 0.0,
        "spark.jobs": float(len(jobs)),
        "spark.executor_busy_share": busy_ms / (pass_ms * sc.defaultParallelism),
        "trace.wall_s": pass_ms / 1e3,
        "trace.layer_wall_share": traced / pass_ms,
    })
    return out
