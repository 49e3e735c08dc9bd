"""Benchmark of the engine: one named workload, end to end or traced.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process runs the engine on ``local[nproc]``. One client runs a closed
loop: each operation starts when the previous one ends. The run

1. generates the workload's inputs from ``--seed`` (not timed);
2. builds the session and runs two untimed warm-up passes, the first
   keeping its outputs for checking (``setup_s`` ends here);
3. runs timed passes until ``--seconds`` have passed, each after
   clearing Spark's caches and forcing garbage collection;
4. checks the outputs, stops Spark and waits for its processes to end.

With ``--trace 1`` the timed window is split: untraced passes first,
then passes with spans around each layer's public functions and counters
from Spark's status stores. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics). The
line before it, prefixed ``perfbench detail:``, carries every metric with
its median, maximum and sample count, plus run facts.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402

#: Each query workload runs a subset of the registry: a pass must stay
#: near 6 s so that a run (session, two warm-up passes, timed passes,
#: checks) fits in about a minute. The subsets keep every layer the
#: workloads stand for: shuffle-heavy analytics, regex parsing, MinHash-LSH
#: candidates feeding connected components (dedup.cc_rounds), a pandas UDF
#: (arrow.python_eval_ms), and on the write side streaming state with a
#: pandas UDF, and a band index maintained across batches.
QUERY_WORKLOADS = {
    "batch_queries": [
        "groupby_count", "pivot_counts", "join_inner_equi", "join_left_equi",
        "topk_per_group", "window_running_sum", "funnel_analysis",
        "sessionize_batch", "parse_date_multiform", "dedup_cluster_components",
        "multimodal_extract",
    ],
    "stateful_ingest": [
        "streaming_dedup", "streaming_sessionize", "dedup_minhash_incremental",
    ],
}

#: ETL workloads: (wiki records, kaggle rows, ratings rows). etl_ref is the
#: reference's input shape (BASELINE.md); etl_wiki_heavy has ten times the
#: wiki records and a hundredth of the ratings, so that wiki normalization
#: does most of the work.
ETL_WORKLOADS = {
    "etl_ref": (7_311, 45_466, 26_024_289),
    "etl_wiki_heavy": (73_110, 45_466, 260_243),
}
ETL_TABLES = ("movies", "movies_ratings", "ratings")
DRIVER_HEAP = "2g"
#: where the engine writes stream sources, state and indexes (fixed in
#: the engine, outside the checkout)
ENGINE_SCRATCH = "/tmp/movies_etl_scratch"

#: end-to-end metrics: name → (unit, printed on the result line)
END_TO_END = {
    "run_s": ("s", True),
    "setup_s": ("s", True),
    "cpu_s": ("s", True),
    "peak_rss_mb": ("MB", True),
    "rows_per_s": ("rows/s", False),
    "out_bytes": ("bytes", False),
    "fail_frac": ("ratio", False),
}

#: per-layer metrics, printed on the result line of a traced run
PER_LAYER = {
    "session.build_s": "s",
    "readers.call_s": "s",
    "readers.jobs": "count",
    "pipeline.clean_wiki_s": "s",
    "pipeline.clean_kaggle_s": "s",
    "pipeline.clean_ratings_s": "s",
    "pipeline.merge_movies_s": "s",
    "pipeline.movies_with_ratings_s": "s",
    "normalize.validate_s": "s",
    "normalize.jobs": "count",
    "sinks.write_s": "s",
    "sinks.bytes": "bytes",
    "sinks.files": "count",
    "registry.build_s": "s",
    "registry.exec_s": "s",
    "registry.build_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.max_task_over_median": "ratio",
    "plan.exchanges": "count",
    "plan.scans": "count",
    "cache.storage_bytes_start": "bytes",
    "cache.storage_bytes_end": "bytes",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.state_rows": "count",
    "arrow.python_eval_ms": "ms",
    "dedup.cc_rounds": "count",
    "out_bytes": "bytes",
    "trace.overhead_s": "s",
}


class NoTracer:
    """Stands in for tracing.Tracer in untraced passes: spans cost nothing
    and record nothing."""

    class _Span(dict):
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def span(self, name, layer):
        return self._Span()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(QUERY_WORKLOADS) + sorted(ETL_WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            if not os.path.islink(full):
                total += os.path.getsize(full)
                files += 1
    return total, files


def source_digest(root: str) -> str:
    """Digest of the engine sources, standing in for a commit id where
    the checkout is not a git repository."""
    h = hashlib.sha1()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for base, _dirs, names in os.walk(os.path.join(root, "movies_etl_spark")):
        paths += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, or None where it is not a git repository."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pass_estimate(passes: list[dict]) -> tuple[list[float], list[float], dict]:
    """The wall and CPU time of one pass, each built as the sum over
    operations of that operation's median over ``passes``. A burst of load
    on the machine that slows one operation of one pass then moves the
    estimate less than it moves that pass's total. Returns ([run_s],
    [cpu_s], per-operation median wall times), or empty lists when no
    pass counts."""
    if not passes:
        return [], [], {}
    names = passes[0]["op_cost"]
    wall = {n: statistics.median(p["op_cost"][n][0] for p in passes) for n in names}
    cpu = {n: statistics.median(p["op_cost"][n][1] for p in passes) for n in names}
    return [sum(wall.values())], [sum(cpu.values())], wall


def op_medians(passes: list[dict]) -> dict:
    """Median wall time of each operation over the passes in which it
    succeeded, for runs where no whole pass counts."""
    times: dict[str, list[float]] = {}
    for p in passes:
        for name, (wall, _cpu) in p["op_cost"].items():
            times.setdefault(name, []).append(wall)
    return {name: statistics.median(v) for name, v in times.items()}


def summary(values: list[float]) -> dict:
    if not values:
        return {"median": None, "max": None, "n": 0}
    return {"median": statistics.median(values), "max": max(values),
            "n": len(values)}


class Bench:
    def __init__(self, args, root: str, t_process: float):
        self.args = args
        self.root = root
        self.t_process = t_process
        self.work = os.path.join(root, ".perfbench", "work", str(os.getpid()))
        self.results_dir = os.path.join(root, ".perfbench", "results")
        self.is_etl = args.workload in ETL_WORKLOADS
        self.spark = None
        self.tracer = NoTracer()
        #: streaming-query listener, while a traced window runs
        self.streams = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spans: list[dict] = []
        #: (wall s, cpu s) of each operation of the current pass
        self.op_cost: dict[str, tuple[float, float]] = {}

    # -- inputs ------------------------------------------------------------

    def generate(self) -> float:
        t0 = time.perf_counter()
        inputs = os.path.join(self.work, "in")
        if self.is_etl:
            import gen_etl

            wiki, kaggle, ratings = ETL_WORKLOADS[self.args.workload]
            self.etl = gen_etl.generate(self.args.seed, inputs, wiki, kaggle, ratings)
            self.shape = {"wiki": wiki, "kaggle": kaggle, "ratings": ratings}
        else:
            import gen_tables

            self.sf_dir = inputs
            self.shape = gen_tables.write_tables(self.args.seed, inputs)
        return time.perf_counter() - t0

    # -- session -----------------------------------------------------------

    def start_session(self) -> float:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # A fixed driver heap: with the engine's default (an 8g ceiling the
        # JVM grows into as garbage collection decides) CPU time and peak
        # memory varied by a third between identical runs.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        import tempfile

        tempfile.tempdir = tmp
        sys.path.insert(0, self.root)
        t0 = time.perf_counter()
        from movies_etl_spark.session import get_spark

        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.spark = get_spark(
            app_name="perfbench",
            master=self.master,
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t0
        import __spark_entry__  # noqa: F401  (registers every query)
        from movies_etl_spark.plans import registry

        self.queries = registry.QUERIES
        self.oracles = registry.ORACLES
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.spark_version = self.spark.version
        return build_s

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while len(procstat.descendants(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.1)

    # -- operations --------------------------------------------------------

    def _op(self, name: str, fn) -> tuple[bool, object]:
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        try:
            with self.tracer.span(name, "op") as span:
                result = fn(span)
            self.op_cost[name] = (time.perf_counter() - t0, procstat.tree_cpu_s() - cpu0)
            if self.streams is not None:
                span["progress"] = self.streams.drain()
            return True, result
        except Exception as exc:  # an engine failure is a measured outcome
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: "
                               + " ".join(str(exc).split())[:300])
            return False, None

    def query_pass(self, collect: bool) -> dict:
        from movies_etl_spark.operators import dedup

        ops = {}
        for name in QUERY_WORKLOADS[self.args.workload]:
            dedup.LAST_CC_MODE, dedup.LAST_CC_ROUNDS = "", 0

            def operation(span, name=name):
                with self.tracer.span("registry.build", "registry"):
                    df = self.queries[name](self.spark, self.sf_dir)
                result = None
                with self.tracer.span("registry.exec", "registry"):
                    if collect:
                        result = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                span["cc_rounds"] = dedup.LAST_CC_ROUNDS if dedup.LAST_CC_MODE else 0
                return result

            ops[name] = self._op(name, operation)
        return ops

    def etl_pass(self, out_dir: str) -> dict:
        from movies_etl_spark.plans import pipeline
        from movies_etl_spark.sources import sinks

        paths = self.etl["paths"]
        ok, tables = self._op("run_pipeline", lambda span: pipeline.run_pipeline(
            self.spark, paths["wiki"], paths["kaggle"], paths["ratings"]))
        ops = {"run_pipeline": (ok, None)}
        for name in ETL_TABLES:
            target = os.path.join(out_dir, name)

            def write(span, name=name, target=target):
                if tables is None:
                    raise RuntimeError("run_pipeline failed")
                sinks.write_parquet(tables[name], target)
                return target

            ops[name] = self._op(f"write_{name}", write)
        return ops

    # -- passes ------------------------------------------------------------

    def storage_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def isolate(self) -> int:
        """Between passes: drop cached data and collect garbage; returns
        the storage bytes left, which must be 0."""
        from movies_etl_spark.operators import caching

        self.spark.catalog.clearCache()
        caching.release_tracked()
        deadline = time.perf_counter() + 10
        while True:
            gc.collect()
            self.spark._jvm.System.gc()
            left = self.storage_bytes()
            if left == 0 or time.perf_counter() > deadline:
                return left
            time.sleep(0.1)

    def scratch_dir(self) -> str:
        """Scratch the engine writes for stateful queries (its own fixed
        location, keyed by process id)."""
        return f"{ENGINE_SCRATCH}/{os.getpid()}"

    def remove_engine_scratch(self) -> None:
        """Remove what the engine left in its fixed scratch root for this
        run: the per-process directory, and the stream-source directory it
        names by a digest of the input directory's path."""
        shutil.rmtree(self.scratch_dir(), ignore_errors=True)
        if not self.is_etl:
            key = hashlib.sha1(os.path.realpath(self.sf_dir).encode()).hexdigest()[:12]
            shutil.rmtree(f"{ENGINE_SCRATCH}/stream-src-{key}", ignore_errors=True)

    def timed_pass(self, index: int) -> dict:
        storage_start = self.isolate()
        if storage_start:
            raise RuntimeError(f"{storage_start} cached bytes survive isolation")
        out_dir = os.path.join(self.work, "out", f"pass{index}")
        shutil.rmtree(out_dir, ignore_errors=True)
        failed_before = self.failed
        pids = (self.jvm_pid, os.getpid())
        for pid in pids:
            procstat.reset_peak_rss(pid)
        self.op_cost = {}
        t0 = time.perf_counter()
        with self.tracer.span("pass", "pass"):
            ops = self.etl_pass(out_dir) if self.is_etl else self.query_pass(False)
        wall = time.perf_counter() - t0
        rss = sum(procstat.peak_rss_mb(pid) for pid in pids)
        if self.is_etl:
            out_bytes = dir_bytes(out_dir)[0]
        else:
            out_bytes = dir_bytes(self.scratch_dir())[0]
        return {"index": index, "wall_s": wall, "op_cost": self.op_cost,
                "peak_rss_mb": rss,
                "out_bytes": out_bytes,
                "ok": self.failed == failed_before, "ops": ops, "out_dir": out_dir,
                "storage_start": storage_start, "storage_end": self.storage_bytes()}

    def window(self, seconds: float, first: int) -> list[dict]:
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self.timed_pass(first + len(passes)))
        return passes

    # -- checks ------------------------------------------------------------

    def check_queries(self, outputs: dict) -> set[str]:
        """Names of the queries whose output differs from the oracle's;
        each counts as a failed operation."""
        import checks
        import gen_tables

        con = checks.oracle_connection(self.sf_dir, gen_tables.TABLES)
        bad = set()
        try:
            for name, (ok, got) in outputs.items():
                if not ok:
                    continue
                reason = checks.compare_frames(got, con.execute(self.oracles[name]).df())
                if reason:
                    bad.add(name)
                    self.errors.append(f"{name}: oracle mismatch: {reason}")
        finally:
            con.close()
        self.failed += len(bad)
        return bad

    def check_etl_pass(self, ops: dict) -> set[str]:
        """Names of the tables of one pass that differ from the planted
        ground truth; each counts as a failed operation."""
        import checks
        import duckdb

        bad = set()
        con = duckdb.connect()
        try:
            for name in ETL_TABLES:
                ok, path = ops[name]
                if not ok:
                    continue
                reason = checks.check_table(name, con, path, self.etl["truth"])
                if reason:
                    bad.add(name)
                    self.errors.append(f"write_{name}: {reason}")
        finally:
            con.close()
        self.failed += len(bad)
        return bad

    def check_etl_stages(self) -> int:
        """Survivors of the wiki filter and dedup, the kaggle filter and
        the junk-column prune, read from the cleaning steps directly."""
        import checks
        from movies_etl_spark.operators import caching
        from movies_etl_spark.plans import pipeline
        from movies_etl_spark.sources import readers

        truth, paths = self.etl["truth"], self.etl["paths"]
        raw = readers.read_json_records(self.spark, paths["wiki"], multiline=True)
        reasons = []
        if raw.count() != truth["wiki_raw"]:
            reasons.append(f"wiki raw rows {raw.count()} != {truth['wiki_raw']}")
        wiki = pipeline.clean_wiki(raw, persist=False)
        reason = checks.check_wiki_clean(wiki.columns, wiki.count(), truth)
        if reason:
            reasons.append(reason)
        kaggle = pipeline.clean_kaggle(readers.read_csv(self.spark, paths["kaggle"]))
        if kaggle.count() != truth["kaggle_after_filter"]:
            reasons.append(f"kaggle rows {kaggle.count()} != {truth['kaggle_after_filter']}")
        caching.release_tracked()
        self.attempted += 1
        if reasons:
            self.failed += 1
            self.errors += [f"etl stages: {r}" for r in reasons]
        return len(reasons)

    # -- traced passes -----------------------------------------------------

    def traced_window(self, seconds: float, first: int) -> list[dict]:
        import tracing

        self.tracer = tracing.Tracer(self.spark, f"{self.args.workload}-{self.args.seed}")
        restore = tracing.wrap_layers(self.tracer)
        self.streams = tracing.StreamCollector(self.spark)
        sql = tracing.SqlCursor(self.spark)
        passes = []
        try:
            t0 = time.perf_counter()
            while not passes or time.perf_counter() - t0 < seconds:
                p = self.timed_pass(first + len(passes))
                p["layers"] = self.pass_layers(p, sql)
                passes.append(p)
        finally:
            restore()
            self.streams.close()
            self.streams = None
            self.spans = self.tracer.spans
            self.tracer = NoTracer()
        return passes

    def pass_layers(self, p: dict, sql) -> dict:
        import tracing

        spans = [s for s in self.tracer.spans if s.get("pass") is None]
        for s in spans:
            s["pass"] = p["index"]
        selfs = tracing.self_times(spans)
        jobs = tracing.self_jobs(spans)
        m = {k: 0.0 for k in PER_LAYER}
        layer_self: dict[str, float] = {}
        progress, stream_jobs = [], 0
        for s in spans:
            dur = s["end"] - s["start"]
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selfs[s["id"]]
            name = s["name"]
            if s["layer"] == "readers":
                m["readers.call_s"] += dur
                m["readers.jobs"] += jobs[s["id"]]
            elif s["layer"] == "pipeline":
                m[f"{name}_s"] += dur
            elif s["layer"] == "normalize":
                m["normalize.validate_s"] += dur
                m["normalize.jobs"] += s["job_hi"] - s["job_lo"]
            elif s["layer"] == "sinks":
                m["sinks.write_s"] += dur
            elif name == "registry.build":
                m["registry.build_s"] += dur
                m["registry.build_jobs"] += s["job_hi"] - s["job_lo"]
            elif name == "registry.exec":
                m["registry.exec_s"] += dur
            elif s["layer"] == "op":
                m["dedup.cc_rounds"] += s.get("cc_rounds", 0)
                if s.get("progress"):
                    progress += s["progress"]
                    stream_jobs += s["job_hi"] - s["job_lo"]
            elif s["layer"] == "pass":
                counters = tracing.exec_counters(self.spark, s["job_lo"], s["job_hi"])
                for k, v in counters.items():
                    m[f"exec.{k}"] = v
        if self.is_etl:
            for name in ETL_TABLES:
                ok, path = p["ops"][name]
                if ok:
                    size, files = dir_bytes(path)
                    m["sinks.bytes"] += size
                    m["sinks.files"] += files
        plan = sql.take()
        m["plan.exchanges"] = plan["exchanges"]
        m["plan.scans"] = plan["scans"]
        m["arrow.python_eval_ms"] = plan["python_metrics"].get(
            "time to run Python workers", 0.0)
        m["streaming.batches"] = len(progress)
        m["streaming.batch_ms"] = sum(e["batch_ms"] for e in progress)
        m["streaming.state_rows"] = sum(e["state_rows"] for e in progress)
        if progress:
            m["streaming.jobs_per_batch"] = stream_jobs / len(progress)
        m["cache.storage_bytes_start"] = p["storage_start"]
        m["cache.storage_bytes_end"] = p["storage_end"]
        m["out_bytes"] = p["out_bytes"]
        return {"metrics": m, "self_s": layer_self,
                "python_metrics": plan["python_metrics"]}

    # -- the run -----------------------------------------------------------

    def run(self) -> tuple[dict, int]:
        args = self.args
        shutil.rmtree(self.work, ignore_errors=True)
        gen_s = self.generate()
        session_build_s = self.start_session()
        try:
            self.isolate()
            if self.is_etl:
                warm_ops = self.etl_pass(os.path.join(self.work, "out", "warmup"))
            else:
                warm_ops = self.query_pass(True)
            # A second untimed pass: operations that run many small jobs
            # (the MinHash index and LSH paths) still run a third slower in
            # the second pass of a process than in the fourth.
            self.isolate()
            if self.is_etl:
                self.etl_pass(os.path.join(self.work, "out", "warmup2"))
            else:
                self.query_pass(False)
            setup_s = time.time() - self.t_process - gen_s
            if args.trace:
                plain = self.window(args.seconds / 2, 0)
                traced = self.traced_window(args.seconds / 2, len(plain))
            else:
                plain, traced = self.window(args.seconds, 0), []
            self.isolate()
            bad = (self.check_etl_pass(warm_ops) if self.is_etl
                   else self.check_queries(warm_ops))
            bad |= {name for name, (ok, _) in warm_ops.items() if not ok}
            if self.is_etl:
                for p in plain + traced:
                    p["ok"] = p["ok"] and not self.check_etl_pass(p["ops"])
                    shutil.rmtree(p["out_dir"], ignore_errors=True)
                bad |= {"stages"} if self.check_etl_stages() else set()
            # passes count only when every operation's output checked out
            for p in plain + traced:
                p["ok"] = p["ok"] and not bad
        finally:
            self.stop_session()
            self.remove_engine_scratch()
        return self.report(setup_s, session_build_s, plain, traced)

    def report(self, setup_s, session_build_s, plain, traced) -> tuple[dict, int]:
        args = self.args
        counted = [p for p in plain if p["ok"]]
        run_s, cpu_s, op_s = pass_estimate(counted)
        walls = [p["wall_s"] for p in counted]
        e2e = {
            # median: the per-operation-median estimate; max: slowest pass
            "run_s": {**summary(run_s), "max": max(walls, default=None),
                      "n": len(walls)},
            "setup_s": summary([setup_s]),
            "cpu_s": {**summary(cpu_s), "n": len(walls)},
            "peak_rss_mb": summary([p["peak_rss_mb"] for p in counted]),
            "out_bytes": summary([p["out_bytes"] for p in counted]),
            "fail_frac": summary([self.failed / self.attempted]),
        }
        if self.is_etl:
            e2e["rows_per_s"] = summary(
                [self.etl["input_rows"] / v for v in run_s])
        correct = self.failed == 0 and bool(counted)
        layers = {}
        if traced:
            ok_traced = [p for p in traced if p["ok"]] or traced
            for key in PER_LAYER:
                layers[key] = summary([p["layers"]["metrics"][key] for p in ok_traced])
            layers["session.build_s"] = summary([session_build_s])
            run_plain = summary([p["wall_s"] for p in plain])["median"]
            run_traced = summary([p["wall_s"] for p in traced])["median"]
            layers["trace.overhead_s"] = summary([run_traced - run_plain])
            self_s = {}
            for p in ok_traced:
                for layer, v in p["layers"]["self_s"].items():
                    self_s.setdefault(layer, []).append(v)
            layers["self_s"] = {k: summary(v) for k, v in self_s.items()}
            node_metrics = {}
            for p in ok_traced:
                for name, v in p["layers"]["python_metrics"].items():
                    node_metrics.setdefault(name, []).append(v)
            layers["arrow.node_metrics"] = {
                k: summary(v) for k, v in node_metrics.items()}
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": self.nproc, "master": self.master,
            "spark_version": self.spark_version, "commit": git_commit(self.root),
            "source_digest": source_digest(self.root), "input_shape": self.shape,
            "loop": "closed, 1 client", "passes": len(plain) + len(traced),
            "counted_passes": len(counted), "attempted": self.attempted,
            "pass_wall_s": [round(p["wall_s"], 4) for p in plain + traced],
            "op_median_s": op_s or op_medians(plain),
            "failed": self.failed, "errors": self.errors[:50],
            "end_to_end": {k: {**v, "unit": END_TO_END[k][0]} for k, v in e2e.items()},
            "per_layer": layers,
            "baseline_rows_per_s": 9143 if self.is_etl else None,
        }
        if traced:
            metrics = {k: {"value": layers[k]["median"], "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k]["median"], "unit": u}
                       for k, (u, shown) in END_TO_END.items() if shown}
        os.makedirs(self.results_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(self.results_dir, stem + ".json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        if self.spans:
            with open(os.path.join(self.results_dir, stem + "-spans.json"), "w") as f:
                json.dump(self.spans, f, default=str)
        print("perfbench detail: " + json.dumps(detail, default=str), flush=True)
        result = {"correct": correct, "attempted": self.attempted,
                  "failed": self.failed, "metrics": metrics}
        return result, 0


def main(argv=None) -> int:
    t_process = procstat.process_start_epoch()
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in ("__spark_entry__.py", "movies_etl_spark/__init__.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing {missing}",
              file=sys.stderr)
        return 2
    bench = Bench(args, root, t_process)
    try:
        result, code = bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
