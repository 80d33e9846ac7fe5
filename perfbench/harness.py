"""Spark side of the benchmark: session sizing and bring-up, the request
loop, hygiene between requests, the oracle check and the traced pass.

Every layer is timed from outside, around calls into its public
functions: ``session.get_spark``, ``sources.read_table``, the catalog
entry's ``fn``, Catalyst planning (``queryExecution().executedPlan()``)
and the noop-sink force.
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import time
from datetime import datetime

from bench_stats import Tally, run_pass
from spans import Span, StatusReader, union_length

clock = time.perf_counter

# Driver (and, in local mode, executor) heap. The tables are a few MB; 1 GiB
# fits any box the benchmark runs on, where the engine's 16 GiB default
# does not.
DRIVER_MEM = "1g"


def box_cpus() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set size (VmHWM), in MB."""
    total_kib = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kib += int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return total_kib * 1024 / 1e6


def prepare_environment(root: str, work: str, cpus: int, mem: str) -> dict[str, str]:
    """Pin the engine to the box and keep every file it writes under
    ``work``. Must run before pyspark is imported. Returns the Spark confs
    to pass to ``get_spark``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM (the launcher too) keeps its temp files in ``work`` and
    # writes no perf-data file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # A heap committed up front does not resize between runs, which
        # keeps peak RSS comparable run to run.
        "spark.driver.extraJavaOptions": f"-Xms{mem}",
    }


def redirect_entry_scratch(work: str) -> None:
    """Some catalog entries write round-trip files under a fixed /tmp
    prefix; re-root those paths under ``work`` (same file names)."""
    import markt_database_analyzer_spark.catalog_engine as engine

    for fname in ("_scratch", "_scratch_r7"):
        orig = getattr(engine, fname, None)
        if orig is not None:
            setattr(
                engine, fname,
                lambda sf_dir, tag, _orig=orig: os.path.join(work, os.path.basename(_orig(sf_dir, tag))),
            )


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Session:
    """The engine's session: ``get_spark`` (which launches the JVM) and a
    warm-up job, each timed."""

    def __init__(self, conf: dict[str, str]):
        from markt_database_analyzer_spark.session import get_spark

        t0 = clock()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = clock()
        warm_up(self.spark)
        self.start_s = t1 - t0
        self.warmup_s = clock() - t1

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def warm_up(spark) -> None:
    """One small job, so the scheduler and executor threads are up before
    the first request."""
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 1000 * n, 1, n).selectExpr("sum(id)").collect()


class Hygiene:
    """Between requests: count what the last entry left behind (pinned
    RDDs, temp views such as memory-sink tables, session confs that differ
    from the baseline), then release it so the next request starts clean."""

    def __init__(self, spark):
        self.spark = spark
        self.views0 = self._temp_views()
        self.conf0 = dict(spark.conf.getAll)

    def _temp_views(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables() if t.isTemporary}

    def release(self) -> dict:
        spark = self.spark
        pins = spark.sparkContext._jsc.getPersistentRDDs()
        pins_left = pins.size()
        for rdd in pins.values():
            rdd.unpersist(False)
        views = self._temp_views() - self.views0
        for name in views:
            spark.catalog.dropTempView(name)
        conf = dict(spark.conf.getAll)
        drift = {k for k in conf.keys() | self.conf0.keys() if conf.get(k) != self.conf0.get(k)}
        for k in drift:
            if k in self.conf0:
                spark.conf.set(k, self.conf0[k])
            else:
                # A key the engine adds (e.g. its own read settings) stays
                # and becomes part of the baseline: counted once, not per
                # request.
                self.conf0[k] = conf[k]
        spark.catalog.clearCache()
        return {"pins_left": pins_left, "sink_tables_left": len(views), "conf_drift": len(drift),
                "conf_drift_keys": sorted(drift)}


class OracleCheck:
    """Compare an entry's output with its DuckDB oracle: row count, column
    names and sorted values (``tools/check_oracle.compare``)."""

    def __init__(self, data_dir: str):
        from tools.check_oracle import compare, duck_conn

        self.compare = compare
        self.con = duck_conn(data_dir)
        self.matched: set[str] = set()

    def __call__(self, name: str, df) -> str | None:
        from markt_database_analyzer_spark.catalog import REGISTRY

        try:
            got = df.toPandas()
            want = self.con.execute(REGISTRY[name].oracle).fetchdf()
        except Exception as exc:  # noqa: BLE001 - reported as a failed check
            return f"check: {type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]
        hard = [p for p in self.compare(name, got, want) if "within 1e-12" not in p]
        if hard:
            return "output mismatch: " + " | ".join(hard)[:300]
        self.matched.add(name)
        return None


class Workload:
    """The request loop over one workload's catalog entries."""

    def __init__(self, spark, data_dir: str, entries: list[str], tally: Tally):
        from markt_database_analyzer_spark.catalog import REGISTRY

        self.spark = spark
        self.data_dir = data_dir
        self.specs = {n: REGISTRY[n] for n in entries}
        self.tally = tally
        self.hygiene = Hygiene(spark)

    def request(self, name: str, forced: bool = True):
        fn = self.specs[name].fn

        def call():
            df = fn(self.spark, self.data_dir)
            if forced:
                force(df)
            return df

        return call

    def between(self, name: str) -> None:
        self.hygiene.release()

    def run_pass(self, order: list[str], check=None) -> list[tuple[str, float]]:
        """One pass. With ``check``, the check's collect is the force."""
        request_for = self.request if check is None else (lambda name: self.request(name, forced=False))
        return run_pass(order, request_for, self.tally, clock, check=check, between=self.between)


class BatchListener:
    """Collects streaming micro-batch progress (a StreamingQueryListener
    registered for the traced pass only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "run_id": str(p.runId),
                    "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "batch_s": p.batchDuration / 1000.0,
                    "input_rows": p.numInputRows,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def take(self) -> list[dict]:
        out, self.events[:] = list(self.events), []
        return out


class TracedWorkload(Workload):
    """The same requests, recorded as spans. Each request runs its entry's
    ``fn`` under job group ``pb<id>.build``, plans the returned frame under
    ``pb<id>.plan`` and forces it under ``pb<id>.force``; calls into
    ``sources.read_table`` made by ``fn`` run under ``pb<id>.read``."""

    def __init__(self, spark, data_dir, entries, tally):
        super().__init__(spark, data_dir, entries, tally)
        self.sc = spark.sparkContext
        self.status = StatusReader(spark)
        self.batches = BatchListener(spark)
        self.entries: list[Span] = []
        self.tables_read: set[str] = set()
        self._eid = 0
        self._wrap_read_table()

    def _wrap_read_table(self) -> None:
        from markt_database_analyzer_spark import sources

        original = self._read_table = sources.read_table
        tracer = self

        def traced_read_table(spark, sf_dir, name, *args, **kwargs):
            eid = tracer._eid
            tracer.sc.setJobGroup(f"pb{eid}.read", name)
            t0 = time.time()
            try:
                return original(spark, sf_dir, name, *args, **kwargs)
            finally:
                tracer.tables_read.add(name)
                tracer._reads.append(Span("sources.read_table", t0, time.time(), eid))
                tracer.sc.setJobGroup(f"pb{eid}.build", "")

        self._patched = [
            mod for mod in list(sys.modules.values())
            if getattr(mod, "__name__", "").startswith("markt_database_analyzer_spark")
            and getattr(mod, "read_table", None) is original
        ]
        for mod in self._patched:
            mod.read_table = traced_read_table
        self._reads: list[Span] = []

    def detach(self) -> None:
        """Stop tracing: put ``sources.read_table`` back and unregister the
        streaming listener, so later untraced passes run as before."""
        for mod in self._patched:
            mod.read_table = self._read_table
        self.spark.streams.removeListener(self.batches.listener)

    def request(self, name: str):
        fn = self.specs[name].fn

        def call():
            self._eid += 1
            eid, sc = self._eid, self.sc
            self._reads = []
            entry = Span("entry", time.time(), 0.0, eid, counters={})
            self.entries.append(entry)
            entry.counters["name"] = name
            sc.setJobGroup(f"pb{eid}.build", name)
            t0 = time.time()
            try:
                df = fn(self.spark, self.data_dir)
                t1 = time.time()
                entry.children.append(Span("catalog.build", t0, t1, eid))
                sc.setJobGroup(f"pb{eid}.plan", name)
                df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                entry.children.append(Span("catalyst.plan", t1, t2, eid))
                sc.setJobGroup(f"pb{eid}.force", name)
                force(df)
                entry.children.append(Span("exec.force", t2, time.time(), eid))
            finally:
                entry.end = time.time()
                sc._jsc.clearJobGroup()
            return df

        return call

    def between(self, name: str) -> None:
        entry = self.entries[-1]
        eid = entry.entry_id
        self.status.drain()
        spans = {s.name: s for s in entry.children}
        build = spans.get("catalog.build")
        batches = self.batches.take()
        read_jobs = self.status.jobs(f"pb{eid}.read")
        if build is not None:
            build.children.extend(_nest(self._reads, read_jobs))
            build.children.extend(self.status.jobs(f"pb{eid}.build"))
            for run_id in sorted({b["run_id"] for b in batches}):
                mine = [b for b in batches if b["run_id"] == run_id]
                batch_spans = []
                for b in mine:
                    bs = Span("streaming.batch", b["start"], b["start"] + b["batch_s"], eid)
                    bs.counters = {"input_rows": b["input_rows"], "state_rows": b["state_rows"]}
                    batch_spans.append(bs)
                build.children.extend(_nest(batch_spans, self.status.jobs(run_id)))
        for label in ("plan", "force"):
            span = spans.get(f"{'catalyst' if label == 'plan' else 'exec'}.{label}")
            if span is not None:
                span.children.extend(self.status.jobs(f"pb{eid}.{label}"))
        settle_cleaner(self.sc)
        entry.counters.update(self.hygiene.release())
        entry.counters["read_table_calls"] = len(self._reads)
        entry.counters["read_table_jobs"] = len(read_jobs)
        entry.counters.update(entry_counters(entry))

    def read_tables_directly(self) -> tuple[float, int]:
        """Call ``sources.read_table`` once for each table the pass read;
        return (seconds, Spark jobs started)."""
        total_s = 0.0
        for name in sorted(self.tables_read):
            self.sc.setJobGroup(f"pb.read.{name}", name)
            t0 = clock()
            self._read_table(self.spark, self.data_dir, name)
            total_s += clock() - t0
        self.sc._jsc.clearJobGroup()
        self.status.drain()
        jobs = sum(len(self.sc.statusTracker().getJobIdsForGroup(f"pb.read.{n}")) for n in self.tables_read)
        return total_s, jobs


def settle_cleaner(sc, poll_s: float = 0.15, rounds: int = 20) -> None:
    """Let Spark's ContextCleaner drop every persisted RDD that nothing
    references any more, so the pins counted next are the ones still held.
    Unreferenced pins are otherwise dropped whenever the JVM happens to
    collect garbage, which makes a plain count vary from run to run."""
    if sc._jsc.getPersistentRDDs().size() == 0:
        return
    previous = None
    for _ in range(rounds):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(poll_s)
        count = sc._jsc.getPersistentRDDs().size()
        if count == previous:
            return
        previous = count


def _nest(parents: list[Span], jobs: list[Span]) -> list[Span]:
    """Hang each job under the parent span it started in; return the
    parents followed by the jobs that started in none of them."""
    loose = []
    for job in jobs:
        home = next((p for p in parents if p.start <= job.start <= p.end), None)
        (home.children if home else loose).append(job)
    return parents + loose


def _jobs_under(span: Span) -> list[Span]:
    """Every job below ``span``, at any depth."""
    jobs = []
    for c in span.children:
        if c.name.startswith("job."):
            jobs.append(c)
        else:
            jobs.extend(_jobs_under(c))
    return jobs


def entry_counters(entry: Span) -> dict[str, float]:
    """Per-entry layer numbers from one traced request."""
    spans = {s.name: s for s in entry.children}
    build = spans.get("catalog.build")
    build_jobs = _jobs_under(build) if build else []
    jobs = build_jobs + [j for n in ("catalyst.plan", "exec.force") if n in spans for j in _jobs_under(spans[n])]
    sums: dict[str, float] = {}
    for j in jobs:
        for k, v in j.counters.items():
            sums[k] = sums.get(k, 0) + v
    batches = [c for c in build.children if c.name == "streaming.batch"] if build else []
    return {
        "latency_s": entry.duration,
        "build_s": build.duration if build else 0.0,
        "build_jobs": len(build_jobs),
        "build_job_s": union_length([(j.start, j.end) for j in build_jobs], build.start, build.end) if build else 0.0,
        "plan_s": spans["catalyst.plan"].duration if "catalyst.plan" in spans else 0.0,
        "force_s": spans["exec.force"].duration if "exec.force" in spans else 0.0,
        "jobs": len(jobs),
        **sums,
        "batches": len(batches),
        "batch_s": sum(b.duration for b in batches),
        "stream_input_rows": sum(b.counters["input_rows"] for b in batches),
        "state_rows": sum(b.counters["state_rows"] for b in batches),
    }
