"""Engine benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload etl_dashboard --seed 1 --seconds 15 --trace 0

A run, in one driver process on ``local[nproc]``:

1. set-up: start the session and return the first scan (cold, with the
   JVM launch), then five more times after stopping the session and
   re-importing the engine; ``setup_s`` is the median of those five;
2. correctness: every workload query once, compared with its DuckDB
   twin through ``scripts/check_oracle.py``'s ``compare()`` (this pass
   also warms the JVM and the code caches);
3. timed passes, ``round(--seconds / pass_s)`` of them, fewer only if
   the host is so slow that they would run past 1.5 times ``--seconds``:
   each query constructed and forced with the ``noop`` sink; staging
   release, ``clearCache``, GC, a settle job and the host-speed probe
   run between queries, outside the timed window.
   The seed permutes the query order of each pass; the data are the
   seed-42 tables under ``perfbench/data``.

The end-to-end times are rescaled by the host-speed probe (``probe.py``)
timed around them: seconds on a host where the probe takes its
reference time.  The measured times are kept in the record.

``--trace 1`` makes at least two traced passes with one untraced pass
between them (the second pass), records spans, the Spark event log and
streaming progress, and reports the per-layer metrics instead of the
end-to-end ones.  Every run writes a record (stamp, samples, all
metrics) and, when traced, its spans under ``.perfbench/records/``.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib
import importlib.util
import hashlib
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import probe  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF = "0.001"
RESETUPS = 5
#: CPU steal share over a run above which the run is flagged contended
STEAL_LIMIT = 0.05
DRIVER_MEM = "2g"
#: the timed passes stop early past this multiple of ``--seconds``, so a
#: run on a very slow host still ends within its time limit
DEADLINE = 1.5
WORK_DIR = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


# -- engine ------------------------------------------------------------------
class Engine:
    """The engine modules the benchmark calls, (re)imported together."""

    def __init__(self) -> None:
        sys.path.insert(0, ROOT)
        for name in [m for m in sys.modules if m == "__spark_entry__" or m.startswith(spans.PACKAGE)]:
            del sys.modules[name]
        pkg = spans.PACKAGE
        self.get_spark = importlib.import_module(f"{pkg}.session").get_spark
        self.load_table = importlib.import_module(f"{pkg}.sources.readers").load_table
        self.release_staging = importlib.import_module(f"{pkg}.llm.staging").release_staging
        self.entry = importlib.import_module("__spark_entry__")
        self.queries = self.entry.queries()
        self.oracles = self.entry.oracle_sql()

    def session(self, conf: dict[str, str], data_dir: str):
        spark = self.get_spark("perfbench", extra_conf=conf)
        self.load_table(spark, data_dir, "nation").count()
        return spark


def load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp and scratch location at the private run dir and
    return the session conf that does the same inside the JVM."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    tempfile.tempdir = None
    os.chdir(run_dir)  # stray files (derby.log, metastore_db) land here too
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={run_dir}",
    }


def trace_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def stop_jvm() -> None:
    """Stop the session and the JVM, and wait for the whole process
    tree (JVM, PySpark workers) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gc.collect()  # release JVM object handles while the JVM still answers
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(procstat.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants(os.getpid())[1:]:
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


# -- streaming counters --------------------------------------------------------
def stream_listener(tracer: spans.Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCounters(StreamingQueryListener):
        """Maps each stream ``runId`` to the benchmark query running
        when it started, and keeps its per-batch progress."""

        def __init__(self) -> None:
            self.runs: dict[str, dict] = {}

        def onQueryStarted(self, event) -> None:
            self.runs[str(event.runId)] = {
                "query": tracer.trace_id,
                "pass": tracer.pass_index,
                "traced": tracer.active,
                "t0": time.time(),
                "t1": None,
                "progress": [],
            }

        def onQueryProgress(self, event) -> None:
            p = event.progress
            run = self.runs.get(str(p.runId))
            if run is not None:
                run["progress"].append(
                    {
                        "durationMs": dict(p.durationMs),
                        "numInputRows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    }
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            run = self.runs.get(str(event.runId))
            if run is not None:
                run["t1"] = time.time()

    return StreamCounters()


# -- the run -----------------------------------------------------------------
class OracleCache:
    """A DuckDB connection as ``check_oracle.compare()`` uses it
    (``execute(sql)`` -> ``.description`` / ``.fetchall()`` / ``.df()``),
    with each twin's result kept on disk, keyed by the SQL text, the
    DuckDB version and the content of the data files.  The twins over
    the fixed seed-42 tables are deterministic, and the slowest ones
    (all-pairs Jaccard, PageRank in SQL) take seconds each."""

    def __init__(self, data_dir: str, tables, cache_dir: str) -> None:
        import duckdb

        self._con = duckdb.connect()
        digest = hashlib.sha256(duckdb.__version__.encode())
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                with open(path, "rb") as f:
                    digest.update(f.read())
        self._data_key = digest.hexdigest()
        self._dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def execute(self, sql: str) -> "OracleCache._Result":
        key = hashlib.sha256((self._data_key + sql).encode()).hexdigest()
        path = os.path.join(self._dir, f"{key}.pkl")
        try:
            with open(path, "rb") as f:
                return self._Result(*pickle.load(f))  # written below by this class only
        except FileNotFoundError:
            pass
        res = self._con.execute(sql)
        fields = ([(d[0],) for d in res.description], res.fetchall(), self._con.execute(sql).df())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(fields, f)
        os.replace(tmp, path)
        return self._Result(*fields)

    class _Result:
        def __init__(self, description, rows, frame) -> None:
            self.description, self._rows, self._frame = description, rows, frame

        def fetchall(self):
            return self._rows

        def df(self):
            return self._frame

    def close(self) -> None:
        self._con.close()


def check_queries(spark, check_oracle, engine: Engine, names, data_dir: str) -> dict[str, list[str]]:
    """Compare every query with its DuckDB twin; returns the problems
    per query (empty list: correct).  An exception is a problem."""
    con = OracleCache(data_dir, check_oracle.TABLES, os.path.join(WORK_DIR, "oracle-cache"))
    out = {}
    for name in names:
        spark.sparkContext.setJobGroup(f"check:{name}", "correctness")
        try:
            with contextlib.redirect_stdout(sys.stderr):
                out[name] = check_oracle.compare(
                    name, spark, con, data_dir, engine.queries[name], engine.oracles.get(name)
                )
        except Exception as exc:  # noqa: BLE001 - any failure counts against error_rate
            out[name] = [f"[{name}] {type(exc).__name__}: {exc}"]
        finally:
            engine.release_staging(blocking=True)
            spark.catalog.clearCache()
    con.close()
    settle(spark, engine)
    return out


def settle(spark, engine: Engine) -> None:
    spark.sparkContext.setJobGroup("settle", "between queries")
    engine.release_staging(blocking=True)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    spark.range(1).count()


def scan_files(roots: list[str], since: float) -> tuple[int, int]:
    """Count and total size of the files under ``roots`` modified at or
    after ``since`` (epoch s)."""
    written = size = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                with contextlib.suppress(OSError):
                    st = os.stat(os.path.join(d, f))
                    if st.st_mtime >= since:
                        written += 1
                        size += st.st_size
    return written, size


def timed_passes(spark, engine, names, data_dir, passes, min_passes, deadline_s, rng, tracer, untraced, file_roots):
    """Run ``passes`` passes, or fewer if a slow host would make them run
    past ``deadline_s`` (at least ``min_passes``); returns one sample per query
    execution, each with the probe times before and after it.
    When tracing, pass ``untraced`` runs with the tracer off."""
    samples = []
    jvm_pid = spark.sparkContext._gateway.proc.pid
    before = probe.probe(spark)
    t_start = time.perf_counter()
    for i in range(passes):
        elapsed = time.perf_counter() - t_start
        if i >= min_passes and elapsed + elapsed / i > deadline_s:
            break
        order = list(names)
        rng.shuffle(order)
        for name in order:
            traced = tracer is not None and i != untraced
            spark.sparkContext.setJobGroup(name, f"pass {i}")
            cpu0 = procstat.snapshot(os.getpid(), jvm_pid)
            s = {"pass": i, "query": name, "traced": traced, "error": None}
            if tracer is not None:
                tracer.trace_id, tracer.pass_index, tracer.active = name, i, traced
            span = tracer.span if tracer is not None else lambda _name: contextlib.nullcontext()
            s["w0"] = time.time()
            t0 = time.perf_counter()
            try:
                with span("plans.construct"):
                    df = engine.queries[name](spark, data_dir)
                t1 = time.perf_counter()
                s["wc"] = time.time()
                with span("spark.execute"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                s["construct_s"], s["execute_s"], s["latency_s"] = t1 - t0, t2 - t1, t2 - t0
            except Exception as exc:  # noqa: BLE001 - counted as a failed query
                s["error"] = f"{type(exc).__name__}: {exc}"
            s["w1"] = time.time()
            if tracer is not None:
                tracer.active = False
            s["cpu"] = procstat.delta(procstat.snapshot(os.getpid(), jvm_pid), cpu0)
            if traced:
                s["files_written"], s["bytes_on_disk"] = scan_files(file_roots, s["w0"])
            settle(spark, engine)
            s["probe_s"] = (before, probe.probe(spark))
            before = s["probe_s"][1]
            samples.append(s)
    return samples


def count_failures(problems: dict[str, list[str]], samples: list[dict]) -> tuple[int, int]:
    """(attempted, failed) over the correctness checks and the timed
    executions; ``error_rate`` is their ratio."""
    attempted = len(problems) + len(samples)
    failed = sum(1 for p in problems.values() if p) + sum(1 for s in samples if s["error"])
    return attempted, failed


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(samples, setups, peak_rss_mb, rescale: bool) -> dict[str, float]:
    """The end-to-end metrics.  With ``rescale`` the times are at the
    probe's reference speed, each by the probes around it; else as
    measured.  ``setups`` holds (seconds, probes) per re-set-up."""

    def t(seconds, probes):
        return probe.rescaled(seconds, probes) if rescale else seconds

    ok = [s for s in samples if s["error"] is None]
    passes = sorted({s["pass"] for s in samples})
    walls = [sum(t(s["latency_s"], s["probe_s"]) for s in ok if s["pass"] == p) for p in passes]
    return {
        "setup_s": statistics.median(t(sec, probes) for sec, probes in setups),
        "wall_s": statistics.median(walls),
        "query_p50_s": statistics.median(t(s["latency_s"], s["probe_s"]) for s in ok),
        "cpu_s": sum(s["cpu"]["cpu_s"] for s in samples) / len(passes),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(samples, tracer, listener, jobs, untraced_wall) -> dict[str, float]:
    traced = [s for s in samples if s["traced"]]
    passes = len({s["pass"] for s in traced})
    per_pass = 1.0 / passes
    m: dict[str, float] = {}

    # plans / spark: jobs attributed to a query by the window they were
    # submitted in; settle and check jobs run outside every window
    windows = [(s["w0"] * 1e3, s.get("wc", s["w1"]) * 1e3, s["w1"] * 1e3) for s in traced]
    agg = dict.fromkeys(("jobs", "construct_jobs", "stages", "tasks", "task_overhead_s"), 0.0)
    agg.update(dict.fromkeys(eventlog.TASK_COUNTERS, 0.0))
    for job in jobs.values():
        group = job["group"] or ""
        if group == "settle" or group.startswith("check:"):
            continue
        t = job["submitted_ms"]
        hit = next((w for w in windows if w[0] <= t <= w[2]), None)
        if hit is None:
            continue
        agg["jobs"] += 1
        agg["construct_jobs"] += t < hit[1]
        for k in ("stages", "tasks", "task_overhead_s", *eventlog.TASK_COUNTERS):
            agg[k] += job[k]
    m["plans.construct_s"] = sum(s.get("construct_s", 0.0) for s in traced) * per_pass
    m["plans.construct_jobs"] = agg.pop("construct_jobs") * per_pass
    m["spark.execute_s"] = sum(s.get("execute_s", 0.0) for s in traced) * per_pass
    for k, v in agg.items():
        m[f"spark.{k}"] = v * per_pass

    # spans: layer call counts, inclusive times, module self times
    sp = [s for s in tracer.spans if s["pass"] >= 0 and s["t1"] is not None]
    for metric, prefix in (("read", "sources.readers."), ("write", "sources.writers.")):
        top = spans.outermost(sp, prefix)
        m[f"sources.{metric}_calls"] = len(top) * per_pass
        m[f"sources.{metric}_s"] = sum(s["t1"] - s["t0"] for s in top) * per_pass
    m["sources.catalog_s"] = sum(s["t1"] - s["t0"] for s in spans.outermost(sp, "sources.catalog.")) * per_pass
    m["sources.files_written"] = sum(s.get("files_written", 0) for s in traced) * per_pass
    m["sources.bytes_on_disk"] = sum(s.get("bytes_on_disk", 0) for s in traced) * per_pass
    stage = [s for s in sp if s["name"] == "llm.staging.stage"]
    m["llm.staging.stage_calls"] = len(stage) * per_pass
    m["llm.staging.stage_s"] = sum(s["t1"] - s["t0"] for s in stage) * per_pass
    for key in ("llm.local_checkpoints", "driver.collects", "driver.collect_rows"):
        m[key] = tracer.counts.get(key, 0) * per_pass
    for s, self_s in zip(sp, spans.self_times(sp)):
        parts = s["name"].split(".")
        if parts[0] in spans.LAYERS and len(parts) == 3:
            key = f"{parts[0]}.{parts[1]}.self_s"
            m[key] = m.get(key, 0.0) + self_s * per_pass

    # process tree
    for key, name in (
        ("functions.python_worker_cpu_s", "python_worker_cpu_s"),
        ("proc.jvm_cpu_s", "jvm_cpu_s"),
        ("proc.driver_py_cpu_s", "driver_py_cpu_s"),
        ("proc.io_read_bytes", "io_read_bytes"),
        ("proc.io_write_bytes", "io_write_bytes"),
    ):
        m[key] = sum(s["cpu"][name] for s in traced) * per_pass

    # streaming progress of the streams started inside traced passes
    runs = [r for r in listener.runs.values() if r["traced"]]
    progress = [p for r in runs for p in r["progress"]]
    m["streaming.batches"] = len(progress) * per_pass
    m["streaming.rows_in"] = sum(p["numInputRows"] for p in progress) * per_pass
    m["streaming.drain_s"] = sum(r["t1"] - r["t0"] for r in runs if r["t1"]) * per_pass
    for key, field in (
        ("trigger_s", "triggerExecution"),
        ("add_batch_s", "addBatch"),
        ("query_planning_s", "queryPlanning"),
        ("latest_offset_s", "latestOffset"),
        ("get_batch_s", "getBatch"),
        ("wal_commit_s", "walCommit"),
        ("commit_offsets_s", "commitOffsets"),
    ):
        m[f"streaming.{key}"] = sum(p["durationMs"].get(field, 0) for p in progress) * 1e-3 * per_pass
    m["streaming.state_rows"] = sum(r["progress"][-1]["state_rows"] for r in runs if r["progress"]) * per_pass
    m["streaming.state_bytes"] = sum(r["progress"][-1]["state_bytes"] for r in runs if r["progress"]) * per_pass

    walls = [sum(s.get("latency_s", 0.0) for s in traced if s["pass"] == p) for p in {s["pass"] for s in traced}]
    m["trace.overhead_s"] = statistics.median(walls) - untraced_wall
    return m


def stamp(seed: int, sf: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "sf": sf,
        "seed": seed,
        "commit": commit,
        "pyspark": pyspark.__version__,
    }


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    data_dir = os.path.join(HERE, "data", f"sf{SF}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # a bounded heap keeps peak_rss_mb steady: under the engine's 16g
    # default the JVM grows its heap lazily, and peak RSS on llm_corpus
    # read either ~1.6 or ~2.1 GB from one seed to the next
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.makedirs(os.path.join(WORK_DIR, "records"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK_DIR)
    cwd = os.getcwd()
    conf = isolate(run_dir)
    tracer = None
    if args.trace:
        tracer = spans.Tracer()
        tracer.install()
        conf.update(trace_conf(run_dir))
    try:
        engine = Engine()
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        os.chdir(cwd)
        shutil.rmtree(run_dir)
        return 2

    record = {"workload": args.workload, "trace": args.trace, "stamp": stamp(args.seed, SF)}
    load_before, cpu_before = procstat.loadavg(), procstat.cpu_times()
    try:
        spark = engine.session(conf, data_dir)
        record["setup_cold_s"] = time.time() - procstat.process_start_epoch()
        probe.warm(spark)
        resetups = []  # (seconds, probe seconds before and after)
        before = probe.probe(spark)
        for _ in range(RESETUPS):
            spark.stop()
            t0 = time.perf_counter()
            engine = Engine()
            spark = engine.session(conf, data_dir)
            resetups.append((time.perf_counter() - t0, (before, probe.probe(spark))))
            before = resetups[-1][1][1]
        record["setup_samples_s"] = resetups
        record["stamp"]["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        listener = None
        if tracer is not None:
            listener = stream_listener(tracer)
            spark.streams.addListener(listener)

        names = wl.queries
        rng = random.Random(args.seed)
        order = list(names)
        rng.shuffle(order)
        t_check = time.perf_counter()
        problems = check_queries(spark, load_check_oracle(), engine, order, data_dir)
        record["check"] = problems
        record["check_s"] = time.perf_counter() - t_check

        passes = max(1, round(args.seconds / wl.pass_s))
        min_passes, untraced = 1, -1
        if tracer is not None:
            # the untraced pass sits between two traced ones, so warm-up
            # left in the first pass does not count as tracing cost
            passes, min_passes, untraced = max(3, passes), 3, 1
        procstat.reset_peak_rss(os.getpid())
        file_roots = [os.path.join(run_dir, d) for d in ("tmp", "warehouse")]
        samples = timed_passes(
            spark, engine, names, data_dir, passes, min_passes, DEADLINE * args.seconds, rng, tracer, untraced,
            file_roots,
        )
        peak = procstat.peak_rss_mb(os.getpid())
        record["timed_s"] = time.perf_counter() - t_check - record["check_s"]
        record["samples"] = samples

        attempted, failed = count_failures(problems, samples)
        if tracer is None:
            metrics = end_to_end(samples, resetups, peak, rescale=True)
            record["cpu_s"] = metrics.pop("cpu_s")
            record["measured"] = end_to_end(samples, resetups, peak, rescale=False)
            value, percentile, n = tail([s["latency_s"] for s in samples if s["error"] is None])
            record["query_tail"] = {"value": value, "percentile": percentile, "samples": n}
        else:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            app_id = spark.sparkContext.applicationId
            spark.stop()
            jobs = eventlog.rollup(os.path.join(run_dir, "eventlog", app_id))
            untraced_wall = sum(s.get("latency_s", 0.0) for s in samples if not s["traced"])
            metrics = per_layer(samples, tracer, listener, jobs, untraced_wall)
            record["streams"] = listener.runs
        record["error_rate"] = failed / attempted
        record["metrics"] = metrics
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    load = max(procstat.loadavg()[0], load_before[0])
    steal = procstat.steal_share(cpu_before, procstat.cpu_times())
    record["stamp"].update(
        loadavg_before=load_before,
        loadavg_after=procstat.loadavg(),
        cpu_steal_share=steal,
        contended=load > nproc or steal > STEAL_LIMIT,
    )
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK_DIR, "records", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(os.path.join(WORK_DIR, "records", f"{tag}.spans.json"))

    for m in wanted:  # a layer module the workload never called
        if m["name"].endswith(".self_s"):
            metrics.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    if record["stamp"]["contended"]:
        print(f"perfbench: WARNING contended host: load {load} on {nproc} cores, CPU steal {steal:.3f}", file=sys.stderr)
    print(f"{args.workload} (trace={args.trace}, error_rate={record['error_rate']:.4f})", file=sys.stderr)
    for m in wanted:
        print(f"  {m['name']:32s} {metrics[m['name']]:>16.6g} {m['unit']}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args()))
