"""Same-box benchmark for project_orbit_spark: one workload, one seed.

Run from the repository root:

    python3 perfbench/run.py --workload daily_delta --seed 1 --seconds 10 --trace 0

One run is one fresh process and one fresh Spark session on
``local[2]`` (see ``SPARK_CORES``):

1. inputs: the fixture tables (``$SPARK_GRAFT_SF_DIR``, default sf0.1)
   with their rows permuted by the seed, cached per seed;
2. set-up: session start, fixture warm-up, the workload's ``prepare``
   hooks;
3. cold pass: every operation once, its output taken to pandas and
   compared with its DuckDB oracle by ``tools/check.py``'s ``compare``;
4. two untimed warm passes, so the steepest part of the JIT's and the
   session's warm-up is not timed;
5. steady passes until ``--seconds`` have passed (at least three), each
   operation collected and its row count checked against the cold pass.

The engine is reached only through its public entry points:
``session.get_spark``, ``catalog.load`` and the registered query
functions with their ``prepare`` hooks.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` tags each
build and collect with a Spark job group, reads the status store and
``/proc`` around it, and reports the per-layer metrics. Its steady
passes run in blocks of traced, untraced, untraced, traced, so the
tracing overhead is measured in one session and a steady trend in pass
time cancels out of it. Its spans are written to
``perfbench/_work/traces/``.

Stdout holds a table of every metric with its unit; the last line is
one JSON object carrying the metrics ``BENCHMARK.json`` lists for the
mode. The exit code is 0 only when every operation succeeded and
matched its oracle, and 2 when the engine or its fixture is missing.
"""

from __future__ import annotations

import time

_T_IMPORT = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

import numpy as np  # noqa: E402

from proctree import PeakRssSampler, descendants, snapshot, tree_usage  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import LAYERS, WORKLOADS, Workload, layer_of  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
# The engine stages its sink and index files here, one subdirectory per
# Spark application. The run counts what lands in its own subdirectory
# and removes it at exit.
ENGINE_STAGE_ROOT = Path("/tmp/orbit_spark_roundtrip")
# With the default JIT, pass times keep falling for many passes
# (daily_delta, seed 4, local[4]: 6.5 s untimed, then 5.6, 5.0, 4.5 ...
# 3.7 s over twelve timed passes). With one warm pass the first timed
# pass still ran ~10% slower than the next, so each run's median sat on
# the steepest part of that curve; two warm passes are what the run
# budget allows, and steady.drift_frac reports the trend that remains.
WARM_PASSES = 2
# three, so the median of a run's passes is never the mean of a slow
# pass and a fast one
MIN_STEADY_PASSES = 3
TRACED_BLOCK = (True, False, False, True)  # traced runs repeat this block
LAYER_METRICS = (
    "calls",
    "failed",
    "prepare_s",
    "build_s",
    "collect_s",
    "self_s",
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "python_cpu_s",
    "shuffle_read_mib",
    "shuffle_write_mib",
    "spill_mib",
    "core_busy_frac",
)
_MIB = 1024.0 * 1024.0


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    stat = Path("/proc/self/stat").read_text()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])  # field 22
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# perf_counter reading at the moment the process started
_T_PROCESS = _T_IMPORT - _process_age_s()


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f[:8])


# Spark task threads. The box has 4 vCPUs, shared with other tenants;
# two task threads leave the other two to the driver's Python process,
# its Python workers and the JVM's compiler and GC threads. On local[4]
# those oversubscribed the box: daily_delta passes took 4.28 s median
# against 3.86 s on local[2] (seeds 41-43, quiet host) and spread up to
# 1.6x while the host stole CPU time.
SPARK_CORES = 2
# The JVM keeps its default JIT, as the engine runs everywhere else.
# UsePerfData off only keeps the JVM's statistics file out of /tmp.
JVM_OPTIONS = "-XX:-UsePerfData"


def _configure_environment() -> None:
    """Fix the core count, the JVM options, and point Python's, the JVM's
    and Spark's scratch files at the work dir."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} {JVM_OPTIONS}' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)


@dataclass(frozen=True)
class Engine:
    bench: object  # bench.py, for load_marker
    catalog: object
    registry: object
    session: object
    check: object  # tools/check.py, for compare


def _import_engine() -> Engine:
    """Import the engine and the oracle helpers, or exit 2."""
    sys.path.insert(0, str(ROOT))
    try:
        import bench
        from project_orbit_spark import catalog, registry, session

        spec = importlib.util.spec_from_file_location("orbit_check", ROOT / "tools" / "check.py")
        check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(check)
    except (ImportError, OSError) as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        raise SystemExit(2) from exc
    return Engine(bench, catalog, registry, session, check)


@dataclass
class OpResult:
    name: str
    layer: str
    build_s: float = 0.0
    collect_s: float = 0.0
    rows: int = -1
    error: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.collect_s


@dataclass
class PassResult:
    span_id: int
    wall_s: float
    cpu_s: float  # JVM and Python workers
    ops: list[OpResult]
    traced: bool
    files_written: int
    bytes_written: int


def written_since(root: Path, since_ns: int) -> tuple[int, int]:
    """Files under ``root`` modified at or after ``since_ns``, and their bytes."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except OSError:
                continue
            if st.st_mtime_ns >= since_ns:
                files += 1
                size += st.st_size
    return files, size


class Bench:
    """One workload in one fresh Spark session."""

    def __init__(self, engine: Engine, workload: Workload, data_dir: Path, run_id: str, traced: bool) -> None:
        self.e = engine
        self.workload = workload
        self.data_dir = str(data_dir)
        self.run_id = run_id
        self.traced = traced
        self.tracer = Tracer(run_id)
        self.layer = {n: layer_of(engine.registry.get_query(n).fn.__module__) for n in workload.ops}
        self.prepare_s: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self.spark = None
        self.stage_metrics = None
        self.stage_dir = ENGINE_STAGE_ROOT
        self.cores = 1

    def setup(self) -> None:
        with self.tracer.span("setup"):
            with self.tracer.span("session.start") as sp:
                self.spark = self.e.session.get_spark("perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
            self.phases["session.start_s"] = sp.duration
            sc = self.spark.sparkContext
            self.cores = sc.defaultParallelism
            self.stage_dir = ENGINE_STAGE_ROOT / sc.applicationId
            with self.tracer.span("catalog.warm") as sp:
                # resolve every table: file listing and footer reads on the
                # driver, no job; the first prepare hook or operation pays
                # the fresh JVM's first-job cost
                for name in self.e.catalog.TABLES:
                    self.e.catalog.load(self.spark, self.data_dir, name)
            self.phases["catalog.warm_s"] = sp.duration
            if self.traced:
                from stagemetrics import StageMetrics

                self.stage_metrics = StageMetrics(self.spark)
            for name in self.workload.ops:
                q = self.e.registry.get_query(name)
                if q.prepare is not None:
                    with self.tracer.span(f"prepare:{name}", layer=self.layer[name]) as sp:
                        q.prepare(self.spark, self.data_dir)
                    self.prepare_s[name] = sp.duration

    def _group(self, span_id: int, what: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.run_id}/{span_id}", what)

    def _clear_group(self) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def run_op(self, name: str, to_pandas: bool, traced: bool):
        """Build and run one operation; returns (OpResult, pandas frame or None)."""
        q = self.e.registry.get_query(name)
        res = OpResult(name, self.layer[name])
        pdf = None
        usage0 = tree_usage() if traced else None
        with self.tracer.span(f"op:{name}") as op_span:
            children = []
            try:
                with self.tracer.span("build", layer=res.layer) as sp:
                    children.append(sp)
                    if traced:
                        self._group(sp.span_id, f"build {name}")
                    df = q.fn(self.spark, self.data_dir)
                res.build_s = sp.duration
                with self.tracer.span("collect", layer=res.layer) as sp:
                    children.append(sp)
                    if traced:
                        self._group(sp.span_id, f"collect {name}")
                    if to_pandas:
                        pdf = df.toPandas()
                        res.rows = len(pdf)
                    else:
                        res.rows = len(df.collect())
                res.collect_s = sp.duration
            except Exception as exc:  # noqa: BLE001 — one failed operation must not end the run
                res.error = f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
            finally:
                if traced:
                    self._clear_group()
            if traced:
                counters: dict[str, float] = {}
                for child in children:
                    part = self.stage_metrics.group(f"{self.run_id}/{child.span_id}")
                    child.attrs.update(part)
                    for k, v in part.items():
                        counters[k] = counters.get(k, 0.0) + v
                counters["python_cpu_s"] = tree_usage().python_cpu_s - usage0.python_cpu_s
                res.counters = counters
            op_span.attrs.update(res.counters, rows=res.rows, error=res.error)
        return res, pdf

    def run_pass(self, order: list[str], label: str, to_pandas: bool, traced: bool):
        frames = {}
        results = []
        since_ns = time.time_ns()
        with self.tracer.span(label) as sp:
            u0 = tree_usage()
            for name in order:
                res, pdf = self.run_op(name, to_pandas, traced)
                results.append(res)
                if pdf is not None:
                    frames[name] = pdf
            u1 = tree_usage()
        files, size = written_since(self.stage_dir, since_ns)
        sp.attrs.update(traced=traced, files_written=files, bytes_written=size)
        result = PassResult(sp.span_id, sp.duration, u1.cpu_s - u0.cpu_s, results, traced, files, size)
        return result, frames

    def oracle_check(self, cold: PassResult, frames: dict) -> None:
        """Compare each cold-pass output with its DuckDB oracle over the
        generated inputs; a mismatch marks the operation failed."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.e.catalog.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for res in cold.ops:
                oracle = self.e.registry.get_query(res.name).oracle
                if res.error is not None or oracle is None:
                    continue
                with self.tracer.span(f"oracle:{res.name}"):
                    expected = con.execute(oracle).fetchdf()
                    problems = self.e.check.compare(res.name, frames[res.name], expected)
                if problems:
                    res.error = "oracle mismatch: " + "; ".join(problems[:3])
        finally:
            con.close()

    def teardown(self) -> None:
        """Stop Spark, wait for the JVM and its Python workers to exit, and
        remove the session's staged files."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                gateway.shutdown()
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while descendants(os.getpid(), snapshot()) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in descendants(os.getpid(), snapshot()):
            try:
                os.kill(p.pid, 9)
            except ProcessLookupError:
                pass
        if self.stage_dir != ENGINE_STAGE_ROOT:
            shutil.rmtree(self.stage_dir, ignore_errors=True)


# -- metrics -----------------------------------------------------------------
def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would not reach
    the median, so the tail is the maximum."""
    xs = sorted(latencies)
    if len(xs) < 21:
        return xs[-1], 100.0
    idx = len(xs) - 11
    return xs[idx], 100.0 * (idx + 1) / len(xs)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def drift_frac(walls: list[float], traced: list[bool]) -> float:
    """Steady trend: the least-squares slope of pass wall time over pass
    index, times the passes spanned, over the median untraced pass. When
    both kinds of pass are present, tracing is a second regressor, so
    its overhead does not read as drift."""
    untraced = [w for w, t in zip(walls, traced) if not t]
    cols = [np.ones(len(walls)), np.arange(len(walls), dtype=float)]
    if untraced and len(untraced) < len(walls):
        cols.append(np.array(traced, dtype=float))
    coef = np.linalg.lstsq(np.column_stack(cols), np.array(walls), rcond=None)[0]
    return float(coef[1]) * (len(walls) - 1) / statistics.median(untraced)


def overhead_frac(walls: list[float], traced: list[bool]) -> float:
    """Mean traced over mean untraced pass time, less one. The passes come
    in traced, untraced, untraced, traced blocks, so both means sit at the
    same mean position and a linear trend adds nothing to the ratio."""
    t = [w for w, f in zip(walls, traced) if f]
    u = [w for w, f in zip(walls, traced) if not f]
    return statistics.fmean(t) / statistics.fmean(u) - 1.0


def end_to_end(
    setup_s: float,
    cold: PassResult,
    warm: list[PassResult],
    steady: list[PassResult],
    peak_rss: int,
    input_bytes: int,
):
    """(name -> (value, unit), name -> note, operations attempted, operations failed)."""
    untraced = [p for p in steady if not p.traced]
    walls = [p.wall_s for p in untraced]
    per_op: dict[str, list[float]] = {}
    lat: list[float] = []
    for p in untraced:
        for r in p.ops:
            if r.error is None:
                per_op.setdefault(r.name, []).append(r.latency_s)
                lat.append(r.latency_s)
    ops = [r for p in [cold, *warm, *steady] for r in p.ops]
    failed = sum(r.error is not None for r in ops)
    tail_v, tail_pct = tail(lat)
    pass_s = statistics.median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold.wall_s, "s"),
        "pass_s": (pass_s, "s"),
        "query_s.geomean": (geomean([statistics.median(v) for v in per_op.values()]), "s"),
        "cpu_s": (statistics.median(p.cpu_s for p in untraced), "s"),
        "peak_rss_mib": (peak_rss / _MIB, "MiB"),
        "request_s.p50": (statistics.median(lat), "s"),
        "request_s.tail": (tail_v, "s"),
        "requests_per_s": (len(lat) / sum(walls), "1/s"),
        "failed_frac": (failed / len(ops), "ratio"),
        "sink_files": (statistics.median(p.files_written for p in untraced), "count"),
        "sink_bytes_per_input_byte": (
            statistics.median(p.bytes_written for p in untraced) / input_bytes,
            "ratio",
        ),
        "steady.drift_frac": (drift_frac([p.wall_s for p in steady], [p.traced for p in steady]), "ratio"),
    }
    for name, v in sorted(per_op.items()):
        metrics[f"query_s.{name}"] = (statistics.median(v), "s")
    notes = {
        "pass_s": (
            f"median of {len(walls)} untraced passes: "
            + " ".join(f"{w:.3f}" for w in walls)
            + "; untimed warm: "
            + " ".join(f"{p.wall_s:.3f}" for p in warm)
        ),
        "request_s.tail": (
            f"p{tail_pct:.1f} of {len(lat)} requests" if tail_pct < 100 else f"maximum of {len(lat)} requests"
        ),
        "steady.drift_frac": f"fitted trend over {len(steady)} steady passes, first to last, over pass_s",
    }
    return metrics, notes, len(ops), failed


def per_layer(
    b: Bench, steady: list[PassResult], cached_mib: float, input_bytes: int, input_rows: int
) -> dict[str, float]:
    """Per-layer metrics per traced steady pass, plus the set-up phases."""
    traced = [p for p in steady if p.traced]
    n = len(traced)
    acc = {layer: dict.fromkeys(LAYER_METRICS, 0.0) for layer in LAYERS}
    for p in traced:
        for r in p.ops:
            a = acc[r.layer]
            a["calls"] += 1
            a["failed"] += r.error is not None
            a["build_s"] += r.build_s
            a["collect_s"] += r.collect_s
            for k, v in r.counters.items():
                if k in a:
                    a[k] += v
    # self time of the layer-tagged spans inside traced passes
    traced_ids = {p.span_id for p in traced}
    self_t = b.tracer.self_time()
    spans = b.tracer.spans
    for sp in spans:
        if sp.layer is None:
            continue
        up = sp.parent
        while up is not None and up not in traced_ids:
            up = spans[up].parent
        if up is not None:
            acc[sp.layer]["self_s"] += self_t[sp.span_id]
    out: dict[str, float] = {}
    for layer in LAYERS:
        a = {k: v / n for k, v in acc[layer].items()}
        a["prepare_s"] = sum(v for name, v in b.prepare_s.items() if b.layer[name] == layer)
        wall = a["build_s"] + a["collect_s"]
        a["core_busy_frac"] = a["exec_run_s"] / (wall * b.cores) if wall else 0.0
        out.update({f"{layer}.{k}": a[k] for k in LAYER_METRICS})
    out["session.start_s"] = b.phases["session.start_s"]
    out["catalog.warm_s"] = b.phases["catalog.warm_s"]
    out["catalog.input_mib"] = input_bytes / _MIB
    out["catalog.input_rows"] = input_rows
    out["storage.cached_mib"] = cached_mib
    out["sources.files_written"] = sum(p.files_written for p in traced) / n
    out["sources.bytes_written"] = sum(p.bytes_written for p in traced) / n
    out["spark.failed_tasks"] = sum(r.counters.get("failed_tasks", 0.0) for p in traced for r in p.ops) / n
    out["trace.overhead_frac"] = overhead_frac([p.wall_s for p in steady], [p.traced for p in steady])
    return out


def tail_attribution(steady: list[PassResult]) -> str:
    """The slowest operation against its own median: keeps a stall in
    view and, when traced, says whether GC, spill or extra jobs came
    with it."""
    by_op: dict[str, list[OpResult]] = {}
    for p in steady:
        for r in p.ops:
            if r.error is None:
                by_op.setdefault(r.name, []).append(r)
    worst, ratio = None, 0.0
    for rs in by_op.values():
        med = statistics.median(r.latency_s for r in rs)
        for r in rs:
            if r.latency_s / med > ratio:
                worst, ratio = r, r.latency_s / med
    if worst is None:
        return "no successful steady operations"
    text = f"{worst.name} {worst.latency_s:.3f} s = {ratio:.2f}x its median"
    peers = [r for r in by_op[worst.name] if r.counters and r is not worst]
    if worst.counters and peers:
        parts = []
        for k in ("jobs", "tasks", "gc_s", "spill_mib", "shuffle_read_mib", "python_cpu_s"):
            med = statistics.median(r.counters.get(k, 0.0) for r in peers)
            parts.append(f"{k} {worst.counters.get(k, 0.0):.3g} vs {med:.3g}")
        text += "; traced: " + ", ".join(parts)
    return text


def _print_table(rows: dict[str, tuple[float, str]], notes: dict[str, str]) -> None:
    for name, (value, unit) in rows.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name:34s} {value:16.6f} {unit}{note}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]

    _configure_environment()
    engine = _import_engine()
    import inputs

    src = Path(engine.catalog.DEFAULT_SF_DIR)
    missing = [t for t in engine.catalog.TABLES if not (src / f"{t}.parquet").is_file()]
    if missing:
        print(f"perfbench: fixture tables {missing} not found under {src}", file=sys.stderr)
        return 2
    t = time.perf_counter()
    data_dir = inputs.generate(src, WORK / "inputs", args.seed)
    gen_s = time.perf_counter() - t
    input_bytes = inputs.input_bytes(data_dir)

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}-{time.time_ns()}"
    b = Bench(engine, workload, data_dir, run_id, traced=bool(args.trace))
    rng = random.Random(args.seed)
    load_before = engine.bench.load_marker()
    steal0 = _cpu_ticks()
    with PeakRssSampler() as rss:
        try:
            b.setup()
            setup_s = time.perf_counter() - _T_PROCESS - gen_s
            cold, frames = b.run_pass(workload.pass_order(rng), "cold", True, b.traced)
            b.oracle_check(cold, frames)
            del frames
            cold_rows = {r.name: r.rows for r in cold.ops if r.error is None}

            def checked_pass(label: str, traced: bool) -> PassResult:
                p, _ = b.run_pass(workload.pass_order(rng), label, False, traced)
                for r in p.ops:
                    if r.error is None and r.name in cold_rows and r.rows != cold_rows[r.name]:
                        r.error = f"row count {r.rows} != cold pass {cold_rows[r.name]}"
                return p

            warm = [checked_pass(f"warm{i}", False) for i in range(WARM_PASSES)]
            # untraced runs: any count of passes; traced runs: whole blocks
            block = TRACED_BLOCK if b.traced else (False,)
            steady: list[PassResult] = []
            t0 = time.perf_counter()
            while (
                len(steady) < max(MIN_STEADY_PASSES, len(block))
                or len(steady) % len(block)
                or time.perf_counter() - t0 < args.seconds
            ):
                steady.append(checked_pass(f"steady{len(steady)}", block[len(steady) % len(block)]))
            cached = 0.0
            if b.traced:
                from stagemetrics import cached_mib

                cached = cached_mib(b.spark)
        finally:
            b.teardown()
    load_after = engine.bench.load_marker()
    steal1 = _cpu_ticks()
    steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    e2e, notes, attempted, failed = end_to_end(setup_s, cold, warm, steady, rss.peak_bytes, input_bytes)
    print(f"# workload {workload.name} seed {args.seed}: {workload.why}")
    print(f"# inputs {data_dir} ({input_bytes / _MIB:.1f} MiB, generated in {gen_s:.2f} s)")
    print(
        f"# loadavg_1m before {load_before.get('loadavg_1m')} after {load_after.get('loadavg_1m')}; "
        f"CPU time stolen by the host during the run {steal_frac:.1%}"
    )
    prep = ", ".join(f"{n} {v:.2f}" for n, v in b.prepare_s.items())
    print(
        f"# setup: session start {b.phases['session.start_s']:.2f} s, "
        f"catalog warm {b.phases['catalog.warm_s']:.2f} s, prepare [{prep}] s"
    )
    print(f"# tail: {tail_attribution(steady)}")
    for r in (r for p in [cold, *warm, *steady] for r in p.ops if r.error is not None):
        print(f"# FAILED {r.name}: {r.error[:500]}")
    _print_table(e2e, notes)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if b.traced:
        values = per_layer(b, steady, cached, input_bytes, inputs.input_rows(data_dir))
        values["steady.drift_frac"] = e2e["steady.drift_frac"][0]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        _print_table({k: (v, units.get(k, "")) for k, v in values.items()}, {})
        path = WORK / "traces" / f"{run_id}.json"
        b.tracer.write(path)
        print(f"# spans: {path}")
        listed = spec["per_layer"]
    else:
        values = {k: v for k, (v, _) in e2e.items()}
        listed = spec["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
