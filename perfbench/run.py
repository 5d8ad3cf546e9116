"""perfbench: end-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload shard_extract --seed 1 --seconds 5 --trace 0

One single-threaded closed-loop driver runs one workload on
``local[<cpus>]``: untimed warm-up passes, whose outputs are checked in
full, then timed passes until ``--seconds`` have gone by. Every query
result is materialized with a ``noop`` write, never counted.
``--trace 1`` turns on the Spark event log, alternates untraced passes
with passes under job groups and harness spans, and reports per-layer
metrics and the tracing overhead instead. The last line of standard
output is one JSON object; see README.md for every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import collect  # noqa: E402
import workloads as wl  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

LIBRARY = "golang_etl_spark"
SETUP_REPEATS = 9
DRIVER_MEM_CAP_MB = 4096


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Host hygiene
# ---------------------------------------------------------------------------
def prepare_host(work: Path) -> dict[str, str]:
    """Environment for the driver JVM and its Python workers; every file
    Spark, Derby or the library leaves goes under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    for sub in ("tmp", "local", "eventlog"):
        (work / sub).mkdir()
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{min(DRIVER_MEM_CAP_MB, phys_mb // 3)}m",
            # Python workers import the library by name (Arrow/pandas UDFs)
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": str(work / "tmp"),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            # both JVMs (spark-submit's launcher and the driver): temp
            # files under work, no /tmp/hsperfdata_<user> entry
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = None
    os.chdir(work)
    return {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_conf(work: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": (work / "eventlog").as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def load_event_logs(log_dir: Path, windows: dict[str, tuple[float, float]]):
    """Parse every application's event log (one per session start) and
    fold it into the traced calls' windows."""
    merged = {name: collect.GroupStats() for name in windows}
    for path in sorted(log_dir.iterdir()):
        with path.open() as f:
            part = collect.attribute(collect.parse_event_log(f), windows)
        for name, stats in part.items():
            merged[name].jobs.update({(path.name, k): v for k, v in stats.jobs.items()})
            merged[name].tasks.extend(stats.tasks)
    return merged


# ---------------------------------------------------------------------------
# Session: start, in-process restart, JVM shutdown
# ---------------------------------------------------------------------------
class Session:
    """The engine's SparkSession plus its query registry.

    ``restart`` stops the SparkContext, drops every library module and
    builds both again in the same JVM: one repeat of the program's own
    set-up (``get_spark`` + ``registry.queries()``)."""

    def __init__(self, conf: dict[str, str]):
        self.conf = conf
        self.spark = None
        self.queries: dict = {}

    def start(self, conf: dict[str, str] | None = None) -> tuple[float, float]:
        if conf:
            self.conf = {**self.conf, **conf}
        t0 = time.perf_counter()
        session = importlib.import_module(f"{LIBRARY}.session")
        self.spark = session.get_spark(app_name="perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        registry = importlib.import_module(f"{LIBRARY}.registry")
        self.queries = registry.queries()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def restart(self) -> tuple[float, float]:
        self.spark.stop()
        for name in [m for m in sys.modules if m == LIBRARY or m.startswith(LIBRARY + ".")]:
            del sys.modules[name]
        return self.start()

    @property
    def registry(self):
        return importlib.import_module(f"{LIBRARY}.registry")

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop Spark and wait for the gateway JVM (and its Python
        workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------
@dataclass
class OpResult:
    name: str
    layer: str
    seconds: float
    ok: bool
    detail: str = ""
    trace: dict = field(default_factory=dict)


def _materialize(df):
    """noop write of every column; returns the row count seen by an
    Observation riding the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


def _failure(name: str, e: Exception) -> str:
    """Log the traceback; return a one-line reason."""
    log(traceback.format_exc())
    first = str(e).strip().splitlines()[0] if str(e).strip() else ""
    return f"{name}: {type(e).__name__}: {first}"


class Tracing:
    """Per-call trace context of the traced phase: a job group per call,
    harness spans and statusTracker counts."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.tracer = collect.Tracer()
        self.windows: dict[str, tuple[float, float]] = {}

    def group(self, name: str, pass_no: int) -> str:
        return f"{self.workload}:{name}:{pass_no}"

    def call(self, sp_name: str, group: str, layer: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            with self.tracer.span(sp_name, group=group, layer=layer) as sp:
                out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.windows[group] = (sp.start, sp.end)
        jobs, tasks = collect.status_counts(sc.statusTracker(), group)
        sp.attrs.update(status_jobs=jobs, status_tasks=tasks)
        return out, sp


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning of ``df`` from its
    QueryExecution tracker (planning is forced here)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1e3


class MixRunner:
    """One pass = every query of the mix, in a seeded order."""

    WARMUP_PASSES = 1

    def __init__(self, session: Session, names: tuple[str, ...], sf_dir: str):
        import gate

        self.session = session
        self.names = names
        self.sf_dir = sf_dir
        self.gate = gate
        self.rows = gate.load_manifest()["rows"]
        specs = session.registry.all_queries()
        self.layers = {n: wl.layer_of(specs[n].fn.__module__) for n in names}

    def order(self, rng: random.Random) -> list[str]:
        return rng.sample(self.names, len(self.names))

    def run_pass(self, order: list[str], mode: str, tracing: Tracing | None = None, pass_no: int = 0):
        return [self._one(n, mode, tracing, pass_no) for n in order]

    def _one(self, name: str, mode: str, tracing: Tracing | None, pass_no: int) -> OpResult:
        spark = self.session.spark
        fn = self.session.queries[name]
        layer = self.layers[name]
        t0 = time.perf_counter()
        try:
            if mode == "check":
                res = self.gate.compare(
                    name, spark, fn(spark, self.sf_dir), self.gate.expected_frame(name)
                )
                return OpResult(name, layer, time.perf_counter() - t0, res.ok, str(res))
            if tracing is None:
                rows = _materialize(fn(spark, self.sf_dir))
                seconds = time.perf_counter() - t0
                trace = {}
            else:
                rows, seconds, trace = self._traced(name, fn, layer, tracing, pass_no)
            ok = rows == self.rows[name]
            detail = "" if ok else f"{name}: {rows} rows, expected {self.rows[name]}"
            return OpResult(name, layer, seconds, ok, detail, trace)
        except Exception as e:
            return OpResult(name, layer, time.perf_counter() - t0, False, _failure(name, e))

    def _traced(self, name, fn, layer, tracing: Tracing, pass_no: int):
        spark = self.session.spark
        tr = tracing.tracer
        parts = {}

        def body():
            with tr.span("build"):
                t = time.perf_counter()
                df = fn(spark, self.sf_dir)
                parts["build_s"] = time.perf_counter() - t
            with tr.span("plan"):
                parts["plan_s"] = plan_seconds(df)
            with tr.span("exec"):
                t = time.perf_counter()
                rows = _materialize(df)
                parts["exec_s"] = time.perf_counter() - t
            return rows

        group = tracing.group(name, pass_no)
        rows, sp = tracing.call("query", group, layer, body)
        parts["persisted_rdds_after"] = len(spark.sparkContext._jsc.getPersistentRDDs())
        parts["group"] = group
        sp.attrs["query"] = name
        return rows, sp.duration, parts


class ShardRunner:
    """The paper's loop on two in-memory Derby shards: seed both with
    ``sinks.seed_shard``, then extract both with ``etl.run_jobspec``
    (JobSpec defaults: stride 10,000, <=100k rows/file, snappy,
    fetch_concurrency 20)."""

    TABLE = "big_table_1"
    # Derby inserts and the JDBC scan keep getting faster over the first
    # passes; the second warm-up pass moves the timed ones past the
    # steepest part of that curve.
    WARMUP_PASSES = 2

    def __init__(self, session: Session, work: Path):
        from golang_etl_spark.jobspec import JobSpec, TableJob

        self.session = session
        self.out_root = work / "extract"
        self.rows = {db: wl.SHARD_ROWS for db in ("shard_a", "shard_b")}
        self.jobs = {
            db: TableJob(
                table=self.TABLE,
                output=str(self.out_root / db),
                primary_key="id",
                db=db,
            )
            for db in self.rows
        }
        self.spec = JobSpec(
            shards={db: f"jdbc:derby:memory:perfbench_{db};create=true" for db in self.rows},
            jobs=tuple(self.jobs.values()),
        )
        self.last_files: tuple[int, int] = (0, 0)
        self.want_digest: dict[str, tuple] = {}

    def order(self, rng: random.Random) -> list[str]:
        """Both seeds, in a seeded order, then the extract."""
        seeds = [f"seed_shard:{db}" for db in self.rows]
        return rng.sample(seeds, len(seeds)) + ["run_jobspec"]

    def run_pass(self, order: list[str], mode: str, tracing: Tracing | None = None, pass_no: int = 0):
        results = []
        extracted = None
        for op in order:
            res, out = self._one(op, tracing, pass_no)
            results.append(res)
            if op == "run_jobspec" and res.ok:
                extracted = out
        if extracted is not None:
            ok, detail = self._check(extracted)
            if not ok:
                extract = results[order.index("run_jobspec")]
                extract.ok, extract.detail = False, detail
        return results

    def _one(self, op: str, tracing: Tracing | None, pass_no: int):
        from golang_etl_spark import etl
        from golang_etl_spark.sources import sinks

        spark = self.session.spark
        layer = "sinks" if op.startswith("seed_shard") else "etl"
        if op.startswith("seed_shard"):
            db = op.split(":", 1)[1]

            def fn():
                return sinks.seed_shard(spark, self.spec, self.jobs[db], n_rows=self.rows[db])
        else:

            def fn():
                return etl.run_jobspec(spark, self.spec)

        trace: dict = {}
        t0 = time.perf_counter()
        try:
            if tracing is None:
                out = fn()
                seconds = time.perf_counter() - t0
            else:
                group = tracing.group(op, pass_no)
                out, sp = tracing.call(op, group, layer, fn)
                seconds = sp.duration
                trace = {"group": group, "build_s": seconds}
                if op == "run_jobspec":
                    trace["reads"] = self._traced_reads(tracing, pass_no)
            return OpResult(op, layer, seconds, True, "", trace), out
        except Exception as e:
            seconds = time.perf_counter() - t0
            return OpResult(op, layer, seconds, False, _failure(op, e), trace), None

    def _traced_reads(self, tracing: Tracing, pass_no: int) -> list[dict]:
        """``read_shard_table`` timed as its own call per shard (bounds
        discovery + scan construction), plus its scan partition count."""
        from golang_etl_spark import etl

        out = []
        for db, job in self.jobs.items():
            group = tracing.group(f"read_shard_table:{db}", pass_no)
            df, sp = tracing.call(
                "read_shard_table", group, "etl",
                lambda job=job: etl.read_shard_table(self.session.spark, self.spec, job),
            )
            out.append({"group": group, "seconds": sp.duration, "partitions": df.rdd.getNumPartitions()})
        return out

    def _check(self, counts: dict[str, int]) -> tuple[bool, str]:
        """Observation row counts == rows seeded; written Parquet equals
        ``sinks.seed_table`` (count, id sum, xor of row hashes); every
        file holds at most ``max_records_per_file`` rows."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from golang_etl_spark.sources.sinks import seed_table

        spark = self.session.spark

        def digest(df) -> tuple:
            return tuple(
                df.select(
                    F.count(F.lit(1)),
                    F.sum(F.col("id").cast("long")),
                    F.bit_xor(F.xxhash64(F.col("id").cast("long"), F.col("data").cast("string"))),
                ).first()
            )

        if not self.want_digest:
            self.want_digest = {db: digest(seed_table(spark, n)) for db, n in self.rows.items()}
        problems = []
        files = nbytes = 0
        for db, job in self.jobs.items():
            key = f"{db}.{self.TABLE}"
            if counts.get(key) != self.rows[db]:
                problems.append(f"{key}: observed {counts.get(key)} rows, seeded {self.rows[db]}")
            got = digest(spark.read.parquet(job.output))
            want = self.want_digest[db]
            if got != want:
                problems.append(f"{key}: parquet digest {tuple(got)} != seed_table {tuple(want)}")
            for path in Path(job.output).glob("*.parquet"):
                meta = pq.read_metadata(path)
                files += 1
                nbytes += path.stat().st_size
                if meta.num_rows > self.spec.max_records_per_file:
                    problems.append(f"{path.name}: {meta.num_rows} rows in one file")
        self.last_files = (files, nbytes)
        return not problems, "; ".join(problems)


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------
def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def add(self, results: list[OpResult]) -> None:
        for r in results:
            self.attempted += 1
            if not r.ok:
                self.failed += 1
                self.failures.append(r.detail or r.name)


class Bench:
    def __init__(self, args, work: Path, conf: dict[str, str]):
        self.args = args
        self.work = work
        self.session = Session(conf)
        self.rng = random.Random(args.seed)
        self.tally = Tally()
        self.tracing: Tracing | None = None
        self.traced_passes: list[list[OpResult]] = []
        self.stream_listener: StreamProgress | None = None
        self.runner = None

    # ----- set-up ---------------------------------------------------------
    def set_up(self) -> None:
        self.session.start(event_log_conf(self.work) if self.args.trace else None)
        start_s = time.perf_counter() - T_PROCESS
        samples = [self.session.restart() for _ in range(SETUP_REPEATS)]
        self.setup = {
            "session.start_s": start_s,
            "setup_s": median([a + b for a, b in samples]),
            "session.get_spark_s": median([a for a, _ in samples]),
            "registry.load_s": median([b for _, b in samples]),
        }

    def build_runner(self) -> None:
        if self.args.workload == wl.SHARD_EXTRACT:
            self.runner = ShardRunner(self.session, self.work)
            return
        import gate

        self.runner = MixRunner(self.session, wl.MIX_QUERIES, str(gate.DATA_DIR))

    def next_order(self) -> list[str]:
        return self.runner.order(self.rng)

    # ----- passes ---------------------------------------------------------
    def one_pass(self, tracing: Tracing | None = None, pass_no: int = 0) -> list[OpResult]:
        order = self.next_order()
        if tracing is None:
            results = self.runner.run_pass(order, "timed")
        else:
            with tracing.tracer.span("pass", trace_id=f"pass-{pass_no}"):
                results = self.runner.run_pass(order, "timed", tracing, pass_no)
        self.tally.add(results)
        log(
            f"[perfbench] {'traced ' if tracing else ''}pass "
            + " ".join(f"{r.name}={r.seconds:.2f}" for r in results)
        )
        return results

    def timed_passes(self) -> tuple[list[list[OpResult]], list[list[OpResult]]]:
        """Passes until ``--seconds`` have gone by (at least one). In a
        traced run untraced and traced passes alternate, so JIT warming
        over the run biases neither side of the overhead."""
        untraced: list[list[OpResult]] = []
        traced: list[list[OpResult]] = []
        t_end = time.perf_counter() + self.args.seconds
        while True:
            untraced.append(self.one_pass())
            if self.tracing is not None:
                traced.append(self.one_pass(self.tracing, len(traced)))
            if time.perf_counter() >= t_end:
                return untraced, traced

    def warm_up(self) -> None:
        mode = "check" if isinstance(self.runner, MixRunner) else "timed"
        for _ in range(self.runner.WARMUP_PASSES):
            results = self.runner.run_pass(self.next_order(), mode)
            self.tally.add(results)
            log("[perfbench] warm-up " + " ".join(f"{r.name}={r.seconds:.2f}" for r in results))

    # ----- metrics --------------------------------------------------------
    @staticmethod
    def pass_metrics(passes: list[list[OpResult]]) -> dict[str, float]:
        good = [p for p in passes if all(r.ok for r in p)]
        use = good or passes
        return {
            "pass_s": median([sum(r.seconds for r in p) for p in use]),
            "query_s_geomean": median([geomean([r.seconds for r in p]) for p in use]),
        }

    def run(self) -> dict:
        self.set_up()
        log(f"[perfbench] set-up done at {time.perf_counter() - T_PROCESS:.1f}s")
        self.build_runner()
        self.warm_up()
        log(f"[perfbench] warm-up done at {time.perf_counter() - T_PROCESS:.1f}s")
        if self.args.trace:
            self.stream_listener = StreamProgress()
            self.session.spark.streams.addListener(self.stream_listener)
            self.tracing = Tracing(self.session.spark, self.args.workload)
        passes, self.traced_passes = self.timed_passes()
        log(f"[perfbench] timed passes done at {time.perf_counter() - T_PROCESS:.1f}s")
        metrics = {**self.setup, **self.pass_metrics(passes)}
        extra = self.shard_rates(passes)
        rss_mb = self.session.jvm_peak_rss_mb()
        self.session.close()  # also flushes the event log
        if self.args.trace:
            metrics.update(self.layer_metrics())
            traced_pass_s = self.pass_metrics(self.traced_passes)["pass_s"]
            metrics["trace.pass_s"] = traced_pass_s
            metrics["trace.overhead_s"] = traced_pass_s - metrics["pass_s"]
        metrics["session.jvm_peak_rss_mb"] = extra["jvm_peak_rss_mb"] = rss_mb
        extra["start_s"] = self.setup["session.start_s"]
        return {"metrics": metrics, "extra": extra, "passes": len(passes)}

    def shard_rates(self, passes) -> dict[str, float]:
        if not isinstance(self.runner, ShardRunner):
            return {}
        total = sum(self.runner.rows.values())
        seed = [sum(r.seconds for r in p if r.layer == "sinks") for p in passes]
        ext = [r.seconds for p in passes for r in p if r.name == "run_jobspec"]
        return {
            "seed_rows_per_s": total / median(seed),
            "extract_rows_per_s": total / median(ext),
        }

    # ----- traced run -----------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics of the traced passes: per pass, the sum over
        a layer's calls; reported as the median over passes."""
        groups = load_event_logs(self.work / "eventlog", self.tracing.windows)
        names = wl.per_layer_metrics()
        per_pass: list[dict[str, float]] = []
        spans = self.tracing.tracer
        selfs = collect.self_times(spans.spans)
        for results in self.traced_passes:
            acc = {name: 0.0 for name in names}
            for r in results:
                self._fold(acc, r, groups)
            acc.update(self.stream_listener.totals(self.tracing, results))
            per_pass.append(acc)
        pass_spans = [s for s in spans.spans if s.name == "pass"]
        query_self = [
            sum(
                selfs[s.span_id]
                for s in spans.spans
                if s.parent == p.span_id and s.name == "query"
            )
            for p in pass_spans
        ]
        out = {name: median([p[name] for p in per_pass]) for name in names}
        out.update(self.setup)
        out["trace.query_self_s"] = median(query_self)
        if isinstance(self.runner, ShardRunner):
            files, nbytes = self.runner.last_files
            out["sinks.parquet_files"] = files
            out["sinks.parquet_bytes_per_row"] = nbytes / sum(self.runner.rows.values())
        self.write_spans()
        return out

    def _fold(self, acc: dict[str, float], r: OpResult, groups) -> None:
        t = r.trace
        if not t:
            return
        gs = groups.get(t["group"], collect.GroupStats())
        lo, hi = self.tracing.windows[t["group"]]
        busy = collect.union_length(collect.clip(gs.job_intervals_s(), lo, hi))

        def add(metric: str, value: float) -> None:
            key = f"{r.layer}.{metric}"
            if key in acc:
                acc[key] += value

        add("build_s", t.get("build_s", 0.0))
        add("plan_s", t.get("plan_s", 0.0))
        add("exec_s", t.get("exec_s", 0.0))
        add("driver_gap_s", (hi - lo) - busy)
        add("tasks", len(gs.tasks))
        add("executor_cpu_s", gs.executor_cpu_s)
        add("shuffle_bytes", gs.shuffle_bytes)
        add("spill_bytes", gs.spill_bytes)
        add("persisted_rdds_after", t.get("persisted_rdds_after", 0))
        if r.layer == "sinks":
            acc["sinks.seed_shard_s"] += r.seconds
            acc["sinks.seed_shard.tasks"] += len(gs.tasks)
        if r.name == "run_jobspec":
            acc["etl.extract_table_s"] += r.seconds
            acc["etl.scheduler_delay_s"] += gs.scheduler_delay_s
            written = [x.records_written for x in gs.tasks if x.records_written > 0]
            if written:
                acc["etl.partition_rows_max_over_mean"] = max(written) / (sum(written) / len(written))
            for read in t.get("reads", ()):
                acc["etl.read_shard_table_s"] += read["seconds"]
                acc["etl.scan_partitions"] += read["partitions"]

    def write_spans(self) -> None:
        out_dir = ROOT / ".perfbench-traces"
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"{self.args.workload}-seed{self.args.seed}.json"
        path.write_text(json.dumps(self.tracing.tracer.to_records(), indent=0))
        log(f"spans written to {path}")


class StreamProgress(StreamingQueryListener):
    """Keeps (trigger time, trigger ms, state rows) of every micro-batch."""

    def __init__(self):
        self.events: list[tuple[float, int, int]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        state = sum(op.numRowsTotal for op in p.stateOperators)
        self.events.append(
            (_iso_epoch(p.timestamp), int(p.durationMs.get("triggerExecution", 0)), state)
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def totals(self, tracing: Tracing, results: list[OpResult]) -> dict[str, float]:
        wins = [tracing.windows[r.trace["group"]] for r in results if r.trace]
        mine = [e for e in self.events if any(lo <= e[0] <= hi for lo, hi in wins)]
        return {
            "streaming.batches": len(mine),
            "streaming.batch_ms": sum(e[1] for e in mine),
            "streaming.state_rows": sum(e[2] for e in mine),
        }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def _on_sigterm(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        importlib.import_module(LIBRARY)
    except ImportError as e:
        log(f"cannot import the engine ({e}); run from the repository root")
        return 2
    work = Path(tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT))
    bench = None
    cwd = os.getcwd()
    try:
        conf = prepare_host(work)
        bench = Bench(args, work, conf)
        out = bench.run()
    finally:
        if bench is not None:
            bench.session.close()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    tally = bench.tally
    for f in tally.failures:
        log(f"FAILED: {f}")
    wanted = wl.per_layer_metrics() if args.trace else wl.END_TO_END
    metrics = {k: {"value": out["metrics"][k], "unit": u} for k, u in wanted.items()}
    print(f"workload={args.workload} seed={args.seed} timed_passes={out['passes']} "
          f"cpus={os.environ['SPARK_GRAFT_CPUS']}")
    info_units = {"jvm_peak_rss_mb": "MB", "start_s": "s"}
    info = {k: {"value": v, "unit": info_units.get(k, "rows/s")} for k, v in out["extra"].items()}
    for k, v in {**metrics, **info}.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"failed_ratio = {tally.failed / tally.attempted:.6g} ({tally.failed}/{tally.attempted})")
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
