"""Tracing from outside the engine: spans around the public functions of
each layer module, plus counters read from Spark's status stores.

Spans are kept in memory (name, layer, start, end, parent, run id, job
range) and written out when the run ends. Each span runs under its own
Spark job group. Jobs are attributed to spans by job id: the benchmark
is one closed-loop client, so the jobs a span starts are exactly the ids
handed out between its start and its end, including jobs run by
streaming threads whose job group Spark sets itself.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

#: (module, function, layer) wrapped in a traced run
LAYER_FUNCTIONS = [
    ("movies_etl_spark.sources.readers", "load_table", "readers"),
    ("movies_etl_spark.sources.readers", "read_csv", "readers"),
    ("movies_etl_spark.sources.readers", "read_json_records", "readers"),
    ("movies_etl_spark.plans.pipeline", "clean_wiki", "pipeline"),
    ("movies_etl_spark.plans.pipeline", "clean_kaggle", "pipeline"),
    ("movies_etl_spark.plans.pipeline", "clean_ratings", "pipeline"),
    ("movies_etl_spark.plans.pipeline", "merge_movies", "pipeline"),
    ("movies_etl_spark.plans.pipeline", "movies_with_ratings", "pipeline"),
    ("movies_etl_spark.operators.normalize", "prune_and_validated_cast", "normalize"),
    ("movies_etl_spark.operators.normalize", "prune_and_validated_cast_staged", "normalize"),
    ("movies_etl_spark.operators.normalize", "validated_cast_many", "normalize"),
    ("movies_etl_spark.sources.sinks", "write_parquet", "sinks"),
]

#: plan-graph node names of the Python/Arrow boundary
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas",
                "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
                "ArrowEvalPythonUDTF")


class Tracer:
    """In-memory span recorder bound to one SparkSession."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1]["id"] if self._stack else None
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "parent": parent, "run_id": self.run_id}
        self.spans.append(span)
        self._stack.append(span)
        prior = (sc.getLocalProperty("spark.jobGroup.id"),
                 sc.getLocalProperty("spark.job.description"))
        sc.setJobGroup(f"perfbench-{self.run_id}-{span['id']}", name)
        span["job_lo"] = self.next_job_id()
        span["start"] = time.perf_counter()
        try:
            yield span
        except Exception as exc:
            span["error"] = type(exc).__name__
            raise
        finally:
            span["end"] = time.perf_counter()
            span["job_hi"] = self.next_job_id()
            sc.setLocalProperty("spark.jobGroup.id", prior[0])
            sc.setLocalProperty("spark.job.description", prior[1])
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its children (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_jobs(spans: list[dict]) -> dict[int, int]:
    """Jobs each span started itself, outside its children."""
    child_jobs: dict[int, int] = {}
    for s in spans:
        if s["parent"] is not None:
            child_jobs[s["parent"]] = child_jobs.get(s["parent"], 0) + (
                s["job_hi"] - s["job_lo"])
    return {s["id"]: s["job_hi"] - s["job_lo"] - child_jobs.get(s["id"], 0)
            for s in spans}


def wrap_layers(tracer: Tracer):
    """Replace each layer function, wherever an engine module binds it,
    with a wrapper that records a span. Returns a function that undoes
    the replacement."""
    undo = []
    for mod_name, fn_name, layer in LAYER_FUNCTIONS:
        module = sys.modules.get(mod_name)
        if module is None:
            __import__(mod_name)
            module = sys.modules[mod_name]
        original = getattr(module, fn_name)

        def make(original=original, name=f"{layer}.{fn_name}", layer=layer):
            @functools.wraps(original)
            def traced(*args, **kwargs):
                with tracer.span(name, layer):
                    return original(*args, **kwargs)
            return traced

        traced = make()
        for other in list(sys.modules.values()):
            mname = getattr(other, "__name__", "")
            if not (mname.startswith("movies_etl_spark") or mname == "__spark_entry__"):
                continue
            for attr, value in list(vars(other).items()):
                if value is original:
                    setattr(other, attr, traced)
                    undo.append((other, attr, original))

    def restore():
        for module, attr, original in reversed(undo):
            setattr(module, attr, original)

    return restore


def exec_counters(spark, job_lo: int, job_hi: int) -> dict:
    """Counters of jobs [job_lo, job_hi) from the core status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "output_bytes"), 0)
    out["max_task_over_median"] = 1.0
    for job_id in range(job_lo, job_hi):
        try:
            job = store.job(job_id)
        except Exception:  # evicted from the store or never registered
            continue
        out["jobs"] += 1
        it = job.stageIds().iterator()
        while it.hasNext():
            stage_id = it.next()
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["output_bytes"] += st.outputBytes()
            if st.numTasks() > 1:
                summary = store.taskSummary(stage_id, st.attemptId(), quantiles)
                if summary.isDefined():
                    dist = summary.get().executorRunTime()
                    med, top = dist.apply(0), dist.apply(1)
                    if med > 0:
                        out["max_task_over_median"] = max(
                            out["max_task_over_median"], top / med)
    return out


class SqlCursor:
    """Walks SQL executions that finished since the last call and counts
    what their final (post-AQE) plans hold."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._last = self._max_id()

    def _max_id(self) -> int:
        n = self._store.executionsCount()
        if n == 0:
            return -1
        return self._store.executionsList(n - 1, 1).apply(0).executionId()

    def take(self) -> dict:
        out = {"exchanges": 0, "scans": 0, "python_metrics": {}}
        n = self._store.executionsCount()
        newest = self._last
        # executions are listed in id order; walk back to the last seen
        for pos in range(n - 1, -1, -1):
            ex = self._store.executionsList(pos, 1).apply(0)
            eid = ex.executionId()
            if eid <= self._last:
                break
            newest = max(newest, eid)
            self._count_plan(eid, out)
        self._last = newest
        return out

    def _count_plan(self, eid: int, out: dict) -> None:
        values = None
        nodes = self._store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if "Exchange" in name and not name.startswith("Reused"):
                out["exchanges"] += 1
            elif name.startswith("Scan") or name.startswith("BatchScan"):
                out["scans"] += 1
            elif name.startswith(PYTHON_NODES):
                if values is None:
                    values = self._store.executionMetrics(eid)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    raw = values.get(m.accumulatorId())
                    if raw.isDefined():
                        key = m.name()
                        out["python_metrics"][key] = (
                            out["python_metrics"].get(key, 0) + metric_value(raw.get()))


#: units of SQL metric text, as multiples of ms (timings) or bytes (sizes)
_UNITS = {"ms": 1, "s": 1_000, "m": 60_000, "h": 3_600_000, "B": 1,
          "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """The total of one SQL metric as the status store renders it: a plain
    value ("647 ms", "23.8 KiB", "9,546") or a task distribution whose
    second line starts with the total ("total (min, med, max ...)\n3.3 s
    (542 ms, ...)"). Timings come back in ms, sizes in bytes."""
    line = text.split("\n")[-1].split("(")[0].split()
    if not line:
        return 0.0
    value = float(line[0].replace(",", ""))
    return value * _UNITS.get(line[1], 1) if len(line) > 1 else value


class StreamCollector:
    """Progress of every streaming query, through a ``spark.streams``
    listener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                collector.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                collector.progress.append({
                    "run_id": str(p.runId),
                    "batch_ms": (p.durationMs or {}).get("triggerExecution", 0),
                    "rows": p.numInputRows,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                collector.terminated.add(str(event.runId))

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def drain(self, timeout_s: float = 5.0) -> list[dict]:
        """Progress events since the last drain, after waiting for every
        started query's termination event."""
        deadline = time.perf_counter() + timeout_s
        while self.started - self.terminated and time.perf_counter() < deadline:
            time.sleep(0.02)
        out, self.progress = self.progress, []
        self.started -= self.terminated
        self.terminated.clear()
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
