"""Benchmark of the bike-data-flow Spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see NOTES.md for why each):

- ``incremental_store``: closed loop, one client. Incremental MinHash
  dedup that commits to snapshot-format stores, beside a read-only
  kNN-graph query, over generated TPC-H-ish tables.
- ``station_stream``: the paper's own loop. A seeded generator lands
  WRM snapshots; phase A drains a backlog with an available-now trigger,
  phase B is an open loop at a fixed rate against a 1 s trigger, then the
  dashboard queries run over the enhanced zone.

The program is driven only through its public functions and observed
from outside (Spark's status stores and streaming progress). The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Each run works in a fresh
directory under ``.perfbench/`` in the checkout and deletes it at the end.

The end-to-end metrics are set-up wall time and the CPU seconds the
run's processes (the JVM and its Python workers) use for the cold and
the warm passes: on a shared host the wall time of a pass follows how
much CPU the hypervisor steals, the CPU time far less (NOTES.md has the
measurements). Wall-clock times, freshness among them, are on the
``info`` line printed before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import sparkstats  # noqa: E402
from spans import Tracer  # noqa: E402
from stations import StationFeed  # noqa: E402

SF = 0.001
SETUP_REPS = 3
# passes after the cold one that are not counted: the JIT is still
# compiling the queries' code, and the CPU time of a pass keeps falling
WARMUP_PASSES = 2
# counted warm passes: as many as start within --seconds, at least this many
WARM_PASSES_MIN = 2
# One batch workload: store commits (incremental MinHash admission into
# the signature store, bloom filter and snapshot tables) beside a
# read-only kNN-graph query whose GEMM runs in Python workers.
BATCH_QUERIES = {
    "incremental_store": [
        "incremental_dedup_pairs",
        "knn_graph_edges",
    ],
}
STREAM = "station_stream"
WORKLOADS = (*BATCH_QUERIES, STREAM)
BACKLOG_POLLS = 4
LIVE_RATE_HZ = 2.0
LIVE_SPAN = 1.0  # measured live arrivals last --seconds
# polls landed before freshness is measured: the first live batch pays
# the new query's start-up, which a long-running pipeline does not
WARMUP_POLLS = 2
# dashboard passes; the first warms up the new query shapes and is not counted
DASHBOARD_REPS = 8

END_TO_END = ("setup_s", "cold_pass_cpu_s", "warm_pass_cpu_s")
UNITS = {k: "s" for k in END_TO_END}
PROGRESS_PHASES = {
    "addBatch": "add_batch_ms", "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms", "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms", "triggerExecution": "trigger_ms",
}
DASHBOARDS = ("latest_per_station", "daily_station_summary", "grid_density")


def process_start() -> float:
    """Epoch seconds at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        boot = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


def host_sizing() -> tuple[int, str]:
    """local[N] from the CPUs this process may use; driver heap a quarter
    of physical memory (the package default of 16g over-commits small
    hosts), capped at that default."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal"))
    mem_mb = max(1024, min(16384, total_kb // 1024 // 4))
    return cpus, f"{mem_mb}m"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


# HotSpot's JIT compiler threads, as /proc shows their names (15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name, or None."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _jit_ticks(pid: int) -> int:
    """CPU ticks used so far by the JIT compiler threads of ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if fields:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> tuple[float, float]:
    """(all, jit): CPU seconds (user + system) used so far by this process
    and every process under it (the JVM and its Python workers, with the
    reaped children each has accounted), and the part of it spent in the
    JVM's JIT compiler threads."""
    root = os.getpid()
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        fields = _stat_fields(f"/proc/{pid}/stat") if pid.isdigit() else None
        if fields:
            parent[int(pid)] = int(fields[1])
            cpu[int(pid)] = sum(int(v) for v in fields[11:15])
    total = jit = 0
    for pid, ticks in cpu.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks
            jit += _jit_ticks(pid)
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


class CpuMeter:
    """CPU seconds used by the run's processes between two points, in
    all and with the JIT compiler threads left out."""

    def __init__(self):
        self.start = tree_cpu_s()

    def read(self) -> tuple[float, float]:
        (a1, j1), (a0, j0) = tree_cpu_s(), self.start
        return a1 - a0, (a1 - a0) - (j1 - j0)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it; the maximum when too few samples leave
    such a percentile above the median."""
    s = sorted(values)
    if len(s) <= 2 * beyond:
        return 100.0, s[-1]
    k = len(s) - beyond - 1
    return 100.0 * (k + 1) / len(s), s[k]


def freshness(
    due: dict[str, float],
    batch_of: dict[str, int],
    commit_at: dict[int, float],
) -> dict[str, float]:
    """Seconds from each file's due time to the commit of the micro-batch
    that read it. A file the generator landed late keeps its due time,
    so the stall is charged to it."""
    return {f: commit_at[batch_of[f]] - t for f, t in due.items()}


class Ops:
    """Operations attempted and failed; a wrong output is a failure."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def __call__(self, label: str, fn):
        """Run one operation; count it, and count and record a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 -- a failed op is a result
            self.fail(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def check(self, label: str, fn) -> None:
        """Check the output of an op already counted; failing fails it."""
        try:
            fn()
        except AssertionError as exc:
            self.fail(f"{label}: wrong output: {exc}")

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)

    @property
    def fail_frac(self) -> float:
        return self.failed / max(1, self.attempted)


def check_fingerprint(pdf, stored: dict) -> None:
    """Raise unless ``pdf`` has the stored row count and value hash."""
    import fingerprint

    if pdf is None:
        raise AssertionError("no output")
    got = fingerprint.fingerprint(pdf)
    want = {k: stored[k] for k in ("rows", "hash")}
    if got != want:
        raise AssertionError(f"output {got} != stored {want}")


def open_loop(items, rate_hz: float, land, now=time.time, sleep=time.sleep):
    """Land ``items`` on a fixed schedule that never waits for the system.

    Returns ({file: due time}, ms the generator ran late at worst). Each
    file keeps the time it was due, so a stall in landing is charged to
    the freshness of the files behind it."""
    start = now() + 0.5
    due, late = {}, 0.0
    for k, item in enumerate(items):
        when = start + k / rate_hz
        sleep(max(0.0, when - now()))
        late = max(late, now() - when)
        f = land(item)
        if f is not None:
            due[f] = when
    return due, late * 1e3


class Context:
    """One run: its scratch root, sizing, Spark session and op counts."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root = REPO / ".perfbench" / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.root, ignore_errors=True)
        for d in ("tmp", "local", "jvmtmp", "data", "stream"):
            (self.root / d).mkdir(parents=True)
        self.cpus, self.driver_mem = host_sizing()
        os.environ.update(
            TMPDIR=str(self.root / "tmp"),
            SPARK_LOCAL_DIRS=str(self.root / "local"),
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=self.driver_mem,
            PYTHONPATH=os.pathsep.join(
                p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
            ),
        )
        tempfile.tempdir = None  # re-read TMPDIR: the stores live under it
        sys.path.insert(0, str(REPO))
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", trace)
        self.ops = Ops()
        self.walls: dict[str, float] = {}  # seconds since process start
        self.spark = None
        self._inputs = 0

    def start_spark(self):
        from bike_data_flow_spark.session import get_spark

        conf = {
            # compiler threads live for the whole run, so that their CPU
            # time can be told apart from the program's
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.root / 'jvmtmp'}"
            " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": str(self.root / "warehouse"),
        }
        if self.trace:  # keep every job, stage and execution for attribution
            conf.update({
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)
        return self.spark

    def make_inputs(self) -> str:
        """Generate the batch tables into a fresh directory."""
        self._inputs += 1
        out = str(self.root / "data" / f"sf{self._inputs}")
        datagen.write_tables(out, SF)
        return out

    def close(self) -> None:
        """Stop Spark, end its JVM and wait for it, delete the run root."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
                gateway = SparkContext._gateway
                gateway.shutdown()
                # the gateway JVM exits when its stdin closes
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
        finally:
            shutil.rmtree(self.root, ignore_errors=True)


def progress_json(p) -> dict:
    return json.loads(p.json)


def epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def data_batches(progress: list[dict]) -> dict[int, dict]:
    """One progress entry per micro-batch that processed data."""
    return {
        p["batchId"]: p
        for p in progress
        if "addBatch" in p.get("durationMs", {}) and p.get("numInputRows", 0) > 0
    }


def stream_counters(progress: list[dict], windows_ms: list[tuple[float, float]]) -> dict:
    batches = [
        p for p in data_batches(progress).values()
        if sparkstats.in_windows(epoch(p["timestamp"]) * 1e3, windows_ms)
    ]
    out = {"batches": len(batches)}
    for key, name in PROGRESS_PHASES.items():
        vals = [p["durationMs"].get(key, 0) for p in batches]
        out[name] = statistics.median(vals) if vals else 0.0
    return out


def files_in(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, snapshot commits) new or rewritten between two walks."""
    new = [p for p, v in after.items() if before.get(p) != v]
    commits = [
        p for p in new
        if os.path.basename(os.path.dirname(p)) == "_snapshots"
        and os.path.basename(p).startswith("v") and p.endswith(".json")
    ]
    return len(new), len(commits)


def collect(df) -> list:
    return df.collect()


def execute(ctx: Context, action, fn, *args):
    """Build a DataFrame with ``fn(*args)``, then run ``action`` on it,
    each in its own span."""
    with ctx.tracer.span("build"):
        df = fn(*args)
    with ctx.tracer.span("action"):
        return action(df)


def setup(ctx: Context, t0: float, prepare) -> tuple[float, object]:
    """Start Spark once (its JVM cannot be relaunched in-process), then
    repeat the rest of the set-up; set-up time is the launch plus the
    median repetition."""
    with ctx.tracer.span("setup"):
        ctx.start_spark()
        launch = time.time() - t0
        reps, result = [], None
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            result = prepare()
            reps.append(time.perf_counter() - t)
    ctx.walls["setup"] = time.time() - t0
    return launch + statistics.median(reps), result


def run_batch(ctx: Context, t0: float) -> dict:
    import bench
    from bike_data_flow_spark.queries import load_all

    import fingerprint

    names = BATCH_QUERIES[ctx.workload]
    registry = load_all()

    setup_s, sf_dir = setup(ctx, t0, ctx.make_inputs)
    spark = ctx.spark
    rng = random.Random(ctx.seed)
    bench._reset_heap_peaks(spark)

    stored = fingerprint.load()["queries"]
    passes: list[dict[str, float]] = []
    walks: list[tuple[int, int]] = []
    cpu: list[tuple[float, float]] = []  # per pass: CPU seconds, all and without JIT
    gc_ms = 0.0
    first = 1 + WARMUP_PASSES  # the first counted warm pass
    start = 0.0

    def more() -> bool:
        if len(passes) < first + WARM_PASSES_MIN:
            return True
        return time.perf_counter() - start < ctx.seconds

    while more():
        if len(passes) == first:
            start = time.perf_counter()
        order = list(names)
        rng.shuffle(order)
        before = files_in(ctx.root / "tmp") if ctx.trace else {}
        gc0 = bench._gc_totals(spark)[0]
        lat: dict[str, float] = {}
        meter = CpuMeter()
        with ctx.tracer.span("pass", index=len(passes)):
            for name in order:
                with ctx.tracer.span("query", query=name) as qs:
                    failed = ctx.ops.failed
                    pdf = ctx.ops(name, lambda: execute(
                        ctx, lambda df: df.toPandas(), registry[name].fn, spark, sf_dir
                    ))
                lat[name] = qs.seconds
                # checked after the clock stops; a wrong output fails the op
                if ctx.ops.failed == failed:
                    ctx.ops.check(name, lambda: check_fingerprint(pdf, stored[name]))
                spark.catalog.clearCache()
        if len(passes) >= first:
            gc_ms += bench._gc_totals(spark)[0] - gc0
            if ctx.trace:
                walks.append(written(before, files_in(ctx.root / "tmp")))
        passes.append(lat)
        cpu.append(meter.read())
    peak_heap = bench._peak_heap_mb(spark)
    ctx.walls["measured"] = time.time() - t0
    warm = passes[first:]
    per_query = [statistics.median(p[n] for p in warm) for n in names]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_cpu_s": cpu[0][0],
        "warm_pass_cpu_s": statistics.median(c[1] for c in cpu[first:]),
    }
    info = {
        "warm_passes": len(warm),
        # wall-clock times, reported but not gated (see NOTES.md)
        "cold_pass_s": sum(passes[0].values()),
        "warm_pass_s": statistics.median(sum(p.values()) for p in warm),
        "latency_p50_s": statistics.median(per_query),
        "latency_tail_s": max(per_query),  # slowest query's median warm latency
        "cold_s": passes[0], "warm_s": dict(zip(names, per_query)),
        "passes_s": [sum(p.values()) for p in passes],
        "passes_cpu_s": cpu,
    }
    layers = {}
    if ctx.trace:
        n = len(warm)
        windows = ctx.tracer.windows("pass")[first:]
        # no streaming query runs here: the streaming counters stay 0
        layers = layer_counters(ctx, windows, [], n)
        layers["gc_ms"] = gc_ms / n
        layers["peak_heap_mb"] = peak_heap
        layers["files_written"] = sum(w[0] for w in walks) / n
        layers["snapshot_commits"] = sum(w[1] for w in walks) / n
    return {"e2e": e2e, "layers": layers, "info": info}


def layer_counters(ctx: Context, windows, progress: list[dict], per: int) -> dict:
    """Per-layer counters for the spans inside ``windows``, divided by
    ``per`` (the number of passes the windows hold)."""
    reader = sparkstats.StatusReader(ctx.spark)
    spans = [
        s for s in ctx.tracer.spans
        if sparkstats.in_windows(s.start * 1e3, windows)
    ]
    builds = [s for s in spans if s.name == "build"]
    actions = [s for s in spans if s.name == "action"]
    build_windows = [(s.start * 1e3, s.end * 1e3) for s in builds]
    out = {
        "build_ms": sum(s.seconds for s in builds) * 1e3,
        "build_jobs": sum(
            1 for j in reader.jobs()
            if sparkstats.in_windows(j.get("submissionTime"), build_windows)
        ),
        "plan_ms": sparkstats.planning_ms(reader, [s.start * 1e3 for s in actions]),
    }
    out.update(sparkstats.scheduler_counters(reader, windows, ctx.cpus))
    out.update(sparkstats.python_counters(reader, windows))
    out.update(stream_counters(progress, windows))
    # counts and times are per pass; medians and fractions stay as they are
    per_pass = {
        "build_ms", "build_jobs", "plan_ms", "jobs", "stages", "tasks", "task_ms",
        "task_cpu_ms", "idle_ms", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
        "bytes_written_mb", "write_task_ms", "python_worker_init_ms",
        "python_worker_start_ms", "python_bytes_sent_mb", "batches",
    }
    return {k: (v / per if k in per_pass else v) for k, v in out.items()}


def run_stream(ctx: Context, t0: float) -> dict:
    import bench
    from bike_data_flow_spark.operators import analytics as A
    from bike_data_flow_spark.operators.enhance import enhance_all, read_enhanced
    from bike_data_flow_spark.operators.parse import read_raw_partition
    from bike_data_flow_spark.operators.views import latest_per_station
    from bike_data_flow_spark.streaming.ingest import LandingZone
    from bike_data_flow_spark.streaming.pipeline import start_pipeline
    from pyspark.sql import functions as F

    n_live = max(1, int(LIVE_SPAN * ctx.seconds * LIVE_RATE_HZ))

    def prepare():
        feed = StationFeed(seed=ctx.seed)
        # generated in landing order, so that a repeat always repeats the
        # file landed just before it, which is what the dup gate compares.
        # The late file rides in the backlog: in the live phase its extra
        # day rebuild slows one batch, which the freshness of about half
        # the measured files waits on
        backlog = [feed.poll() for _ in range(BACKLOG_POLLS)]
        backlog.append(feed.late_snapshot())
        live = [feed.poll() for _ in range(WARMUP_POLLS + n_live)]
        return feed, backlog, live

    setup_s, (feed, backlog, live) = setup(ctx, t0, prepare)
    spark = ctx.spark
    stream = ctx.root / "stream"
    landing_dir, enhanced_dir, ckpt = (str(stream / d) for d in ("landing", "enhanced", "ckpt"))
    bench._reset_heap_peaks(spark)
    gc0 = bench._gc_totals(spark)[0]

    zone = LandingZone(landing_dir)
    land_ms: list[float] = []
    rows_of: dict[str, int] = {}
    skipped = 0

    def key(path: str) -> str:
        return "/".join(str(path).rsplit("/", 2)[-2:])

    def land(snap) -> str | None:
        nonlocal skipped
        with ctx.tracer.span("land") as s:
            path = ctx.ops("land", lambda: zone.land(snap.payload, now=snap.stamp))
        land_ms.append(s.seconds * 1e3)
        if path is None:
            skipped += 1
            return None
        rows_of[key(path)] = snap.payload.count("\n") - 1
        return key(path)

    # phase A: drain a backlog in one available-now run
    for snap in backlog:
        land(snap)
    backlog_rows = sum(rows_of.values())
    meter = CpuMeter()
    with ctx.tracer.span("backfill") as backfill:
        q = ctx.ops("backfill", lambda: start_pipeline(
            spark, landing_dir, enhanced_dir, ckpt, available_now=True
        ))
        if q is not None:
            q.awaitTermination()
    recent = [progress_json(p) for p in q.recentProgress] if q else []
    backfill_cpu = meter.read()

    # phase B: open loop at a fixed wall rate against a 1 s trigger
    landed_at: dict[str, float] = {}
    warmup: set[str] = set()

    def land_live(item):
        k, snap = item
        f = land(snap)
        if f is not None:
            landed_at[f] = time.time()
            if k < WARMUP_POLLS:
                warmup.add(f)
        return f

    with ctx.tracer.span("live") as live_span:
        q = ctx.ops("live", lambda: start_pipeline(
            spark, landing_dir, enhanced_dir, ckpt, trigger_seconds=1
        ))
        # measure a running pipeline: wait for its first (empty) trigger
        ready = time.time() + 60
        while q is not None and q.lastProgress is None and time.time() < ready:
            time.sleep(0.05)
        meter = CpuMeter()
        due, late_ms = open_loop(list(enumerate(live)), LIVE_RATE_HZ, land_live)
        deadline = time.time() + 90
        batch_of: dict[str, int] = {}
        commit_at: dict[int, float] = {}
        while q is not None and time.time() < deadline:
            batch_of = {key(p): b for p, b in sparkstats.file_source_batches(ckpt).items()}
            ours = [batch_of.get(f) for f in due]
            # the commit log is a cheap local check; progress is read once
            # the last batch is durable
            if None not in ours and os.path.exists(
                os.path.join(ckpt, "commits", str(max(ours)))
            ):
                batches = data_batches([progress_json(p) for p in q.recentProgress])
                commit_at = {
                    b: epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                    for b, p in batches.items()
                }
                if all(b in commit_at for b in ours):
                    break
            time.sleep(0.1)
        live_cpu = meter.read()
        if q is not None:
            recent += [progress_json(p) for p in q.recentProgress]
            q.stop()
    fresh = {}
    try:
        fresh = freshness(
            {f: t for f, t in due.items() if f not in warmup}, batch_of, commit_at
        )
    except KeyError as exc:
        ctx.ops.fail(f"file {exc} never committed")

    # dashboards over the enhanced zone
    dash_ms: dict[str, list[float]] = {d: [] for d in DASHBOARDS}
    dash_pass: list[float] = []
    dash_cpu: list[tuple[float, float]] = []
    latest_rows = []
    for _ in range(DASHBOARD_REPS):
        meter = CpuMeter()
        with ctx.tracer.span("dashboards") as ds:
            df = read_enhanced(spark, enhanced_dir)
            stations = df.filter(F.col("record_type") == "station")
            with ctx.tracer.span("dashboard", view="latest_per_station") as s:
                latest_rows = ctx.ops("latest_per_station", lambda: execute(
                    ctx, collect, latest_per_station, df
                )) or []
            dash_ms["latest_per_station"].append(s.seconds * 1e3)
            with ctx.tracer.span("dashboard", view="daily_station_summary") as s:
                ctx.ops("daily_station_summary", lambda: execute(
                    ctx, collect, A.daily_station_summary, stations
                ))
            dash_ms["daily_station_summary"].append(s.seconds * 1e3)
            with ctx.tracer.span("dashboard", view="grid_density") as s:
                def density():
                    bounds = A.bounding_box(stations).first().asDict()
                    return execute(ctx, collect, lambda: A.top_density_cells(
                        A.grid_density(df, A.make_grid(bounds))
                    ))
                ctx.ops("grid_density", density)
            dash_ms["grid_density"].append(s.seconds * 1e3)
        dash_pass.append(ds.seconds)
        dash_cpu.append(meter.read())
    peak_heap = bench._peak_heap_mb(spark)
    ctx.walls["measured"] = time.time() - t0
    gc_ms = bench._gc_totals(spark)[0] - gc0

    # checks, outside the timed phases
    valid = sum(s.valid_rows for s in (*backlog, *live))
    repeats = sum(s.repeat for s in (*backlog, *live))
    raw_rows = sum(rows_of.values())
    counts = {}

    def digest(df) -> tuple[int, int]:
        """(rows, sum of row hashes): equal for equal multisets of rows."""
        h = F.xxhash64(*df.columns).cast("decimal(38,0)")
        row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
        return row[0], row[1]

    def check_zone():
        batch = enhance_all(read_raw_partition(spark, landing_dir)).withColumn(
            "dt", F.date_format("date", "yyyy-MM-dd")
        ).drop("processed_at")
        zone_df = read_enhanced(spark, enhanced_dir).drop("processed_at")
        want, got = digest(batch), digest(zone_df.select(*batch.columns))
        counts["parsed"] = got[0]  # rows the stream wrote
        if got != want or want[0] != valid:
            raise AssertionError(
                f"enhanced zone {got} != batch rebuild {want}; {valid} valid rows landed"
            )

    def check_dups():
        if skipped != repeats:
            raise AssertionError(f"dup gate skipped {skipped}, generated {repeats}")

    def check_latest():
        got = {
            r["station_id"]: (r["name"], r["bikes"], r["spaces"], r["total_docks"],
                              r["installed"])
            for r in latest_rows
        }
        if got != feed.latest:
            bad = sum(got.get(k) != v for k, v in feed.latest.items())
            raise AssertionError(f"latest_per_station differs on {bad} stations")

    ctx.ops("check enhanced zone", check_zone)
    ctx.ops("check dup gate", check_dups)
    ctx.ops("check latest", check_latest)

    vals = list(fresh.values()) or [0.0]
    pct, tail_s = tail(vals)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_cpu_s": backfill_cpu[0],
        "warm_pass_cpu_s": statistics.median(c[1] for c in dash_cpu[1:]),
    }
    info = {
        # wall-clock times, reported but not gated (see NOTES.md)
        "cold_pass_s": backfill.seconds,
        "warm_pass_s": statistics.median(dash_pass[1:]),
        "freshness_p50_s": statistics.median(vals),
        "freshness_tail_s": tail_s,
        "live_cpu_s": live_cpu, "dash_cpu_s": dash_cpu, "backfill_cpu_s": backfill_cpu,
        "backfill_rows": backlog_rows,
        "backfill_rows_per_s": backlog_rows / backfill.seconds,
        "freshness_samples": len(fresh), "freshness_tail_pct": pct,
        "live_rate_hz": LIVE_RATE_HZ, "live_files": len(due),
        # how the live arrivals fell into micro-batches: files, trigger ms
        "live_batches": [
            [sum(1 for f in due if batch_of.get(f) == b), p["durationMs"]["triggerExecution"]]
            for b, p in sorted(data_batches(recent).items())
            if epoch(p["timestamp"]) >= live_span.start
        ],
    }
    layers = {}
    if ctx.trace:
        windows = ctx.tracer.windows("backfill") + ctx.tracer.windows("live") \
            + ctx.tracer.windows("dashboards")
        # each micro-batch becomes a span under the phase that ran it
        for b, p in data_batches(recent).items():
            start = epoch(p["timestamp"])
            phases = {
                PROGRESS_PHASES[k]: v for k, v in p["durationMs"].items()
                if k in PROGRESS_PHASES
            }
            ctx.tracer.add(
                "stream_batch", start, start + phases["trigger_ms"] / 1e3,
                live_span.id if start >= live_span.start else backfill.id,
                batch=b, rows=p["numInputRows"], **phases,
            )
        layers = layer_counters(ctx, windows, recent, 1)
        layers["gc_ms"] = gc_ms
        layers["peak_heap_mb"] = peak_heap
        layers["files_written"], layers["snapshot_commits"] = written(
            {}, files_in(ctx.root / "tmp")
        )
        # raw lines Spark scanned inside the micro-batches beyond the new
        # lines the file source read: what the day rebuilds re-read
        stream_batches = data_batches(recent).values()
        scanned = sparkstats.input_records(sparkstats.StatusReader(spark), [
            (epoch(p["timestamp"]) * 1e3,
             epoch(p["timestamp"]) * 1e3 + p["durationMs"]["triggerExecution"])
            for p in stream_batches
        ])
        new_lines = sum(p["numInputRows"] for p in stream_batches)
        # cross-check: the re-reads the design implies, from the
        # checkpoint's file -> batch log (misses files landed mid-batch);
        # + 1 per file for its header line, which the scans count too
        all_batches = {key(p): b for p, b in sparkstats.file_source_batches(ckpt).items()}
        modelled = 0
        for b in sorted(set(all_batches.values())):
            days = {f.split("/")[0] for f, fb in all_batches.items() if fb == b}
            modelled += sum(
                rows_of.get(f, 0) + 1 for f, fb in all_batches.items()
                if fb <= b and f.split("/")[0] in days
            )
        info["rebuild_amplification_modelled"] = modelled / new_lines
        backlog_max = 0
        for b, p in data_batches(recent).items():
            t = epoch(p["timestamp"])
            backlog_max = max(backlog_max, sum(
                1 for f, at in landed_at.items() if at <= t and batch_of.get(f, b) >= b
            ))
        layers.update({
            "backlog_files_max": backlog_max,
            "land_p50_ms": statistics.median(land_ms),
            "dup_skipped": skipped,
            "generator_late_ms": late_ms,
            "rows_parsed": counts.get("parsed", 0),
            "rows_dropped": raw_rows - counts.get("parsed", 0),
            "rebuild_amplification": (scanned - new_lines) / new_lines,
        })
        for d in DASHBOARDS:
            layers[f"{d}_ms"] = statistics.median(dash_ms[d][1:])
    return {"e2e": e2e, "layers": layers, "info": info}


LAYERS = (
    "build_ms", "build_jobs", "plan_ms", "jobs", "stages", "tasks", "task_ms",
    "task_cpu_ms", "idle_ms", "core_busy_frac", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "gc_ms", "peak_heap_mb", "python_worker_init_ms",
    "python_worker_start_ms", "python_bytes_sent_mb", "bytes_written_mb",
    "files_written", "snapshot_commits", "write_task_ms", "batches",
    *PROGRESS_PHASES.values(), "backlog_files_max", "land_p50_ms", "dup_skipped",
    "generator_late_ms", "rows_parsed", "rows_dropped", "rebuild_amplification",
    *(f"{d}_ms" for d in DASHBOARDS),
)
LAYER_UNITS = {
    "core_busy_frac": "ratio", "rebuild_amplification": "ratio",
    "build_jobs": "count", "jobs": "count", "stages": "count", "tasks": "count",
    "files_written": "count", "snapshot_commits": "count", "batches": "count",
    "backlog_files_max": "count", "dup_skipped": "count", "rows_parsed": "count",
    "rows_dropped": "count", "peak_heap_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.startswith("traced_"):
        return UNITS[name[len("traced_"):]]
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    return {"ms": "ms", "mb": "MB", "s": "s"}[name.rsplit("_", 1)[1]]


def result_line(ctx: Context, out: dict) -> dict:
    if ctx.trace:
        values = {k: out["layers"].get(k, 0.0) for k in LAYERS}
        values.update({f"traced_{k}": out["e2e"][k] for k in END_TO_END})
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in values.items()}
    else:
        metrics = {k: {"value": float(out["e2e"][k]), "unit": UNITS[k]} for k in END_TO_END}
    return {
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    t0 = process_start()
    steal0, total0 = cpu_ticks()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("bike_data_flow_spark", "bench.py", "tools/check.py"):
        if not (REPO / need).exists():
            print(f"{REPO / need} is missing: run from a checkout of the repository",
                  file=sys.stderr)
            return 2

    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    import bench

    host = bench._host_state(str(ctx.root / "data"))  # before the JVM starts
    try:
        runner = run_stream if args.workload == STREAM else run_batch
        out = runner(ctx, t0)
        if ctx.trace:
            out_dir = REPO / ".perfbench"
            ctx.tracer.write(str(out_dir / f"trace-{args.workload}-{args.seed}.json"))
        ctx.walls["checked"] = time.time() - t0
    finally:
        ctx.close()
    ctx.walls["closed"] = time.time() - t0
    steal1, total1 = cpu_ticks()
    for p in ctx.ops.problems:
        print(f"FAILED {p}", file=sys.stderr)
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": ctx.cpus,
        "driver_mem": ctx.driver_mem, "host": host, "sf": SF,
        "fail_frac": ctx.ops.fail_frac,
        # share of the host's CPU time taken by other guests during the run
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "walls": ctx.walls, **out["info"],
    }
    print(json.dumps({"info": info}))
    print(json.dumps(result_line(ctx, out)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
