"""Benchmark of the spark-graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload monitor_tick --seed 1 --seconds 12 --trace 0

Runs from the root of a source tree that holds the
``fortisiem_clickhouse_monitor_spark`` package, in one process on
``local[$SPARK_GRAFT_CPUS]`` (default: every CPU this process may use).
Set-up: registry import, session start, seeded input tables, an
output-check pass against the DuckDB oracles, and a warm-up by concurrent
clients; ``setup_s`` counts all of it but the tables and the check, which
are the benchmark's own work.  Then one client runs whole passes over the
workload's ops, each pass in a seed-fixed order, until ``--seconds`` have
been measured.  The latency metrics come from the untraced passes during
which the hypervisor stole the least CPU time (``quiet_passes``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics from traced passes,
which alternate with untraced ones (U, then T U U T ...) so the tracing
overhead is measured in the same run.  The line before it is the full run
record: host facts, every metric, per-op times and the output check.

Scratch space (generated tables, Spark local dirs, the warehouse, written
outputs, temp files) lives under ``.perfbench_work/`` in the tree and is
removed before exit.  Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: Concurrent clients in the untimed warm-up.
WARM_CLIENTS = 3
#: Hard stop for one run: the caller allows 180 s per run.
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402
from tracing import PKG  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    return {m["name"]: m["unit"] for m in SPEC[kind]}


class RunTimeout(Exception):
    pass


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measured time per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    p.add_argument("--spans-out", default=None, help="write the traced run's spans to this JSON file")
    return p.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def prepare_env(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``work``, and put the package on the workers' path."""
    dirs = {k: os.path.join(work, k) for k in ("local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']} pyspark-shell"
    )


def _proc_status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def host_steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this host since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pid) -> None:
    """Restart ``pid``'s VmHWM from its current RSS (clear_refs code 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parents[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parents.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def host_facts(spark, args, sf) -> dict:
    cpu = "unknown"
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    sha = hashlib.sha256()
    pkg_dir = os.path.join(ROOT, PKG)
    for base, _dirs, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                sha.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    sha.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    jvm = spark._jvm.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": cpu,
        "ram_gb": round(_meminfo_kb() / 1024**2, 1),
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "spark": spark.version,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        "sf": sf,
        "seed": args.seed,
        "git_commit": commit,
        "package_sha256": sha.hexdigest()[:16],
    }


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


class Runner:
    """Runs the workload's ops against one session and records them."""

    def __init__(self, spark, wl, sf_dir, out_dir, tracer):
        from fortisiem_clickhouse_monitor_spark import registry
        from fortisiem_clickhouse_monitor_spark.sources import writers
        from fortisiem_clickhouse_monitor_spark.streaming import jobs

        self.spark, self.wl, self.sf_dir, self.out_dir = spark, wl, sf_dir, out_dir
        self.tracer = tracer
        self.queries = registry.queries()
        self.jobs, self.writers = jobs, writers
        self.expected_rows: dict[str, int] = {}
        self.bad: set[str] = set()
        self.errors: dict[str, str] = {}
        self.written: list[tuple[dict, str]] = []

    # -- set-up: output check and warm-up ----------------------------------
    def check(self, con, probes: dict) -> dict[str, dict]:
        """One untimed pass, ops in parallel: each op against its DuckDB
        oracle twin on the same inputs.  Each thread queries DuckDB through
        its own cursor.  Every later run of a monitor op must emit as many
        frames as its oracle has rows (``_sink``)."""
        from fortisiem_clickhouse_monitor_spark import registry

        oracles = registry.oracle_sql()
        ops = self.wl.ops
        with ThreadPoolExecutor(min(len(ops), os.cpu_count() or 1)) as pool:
            futures = [
                pool.submit(self._check_op, con.cursor(), op, oracles[op.query], probes)
                for op in ops
            ]
            report = {op.query: f.result() for op, f in zip(ops, futures)}
        for query, res in report.items():
            if res["ok"]:
                self.expected_rows[query] = res["rows"]
            else:
                self.bad.add(query)
        return report

    def _check_op(self, cursor, op, oracle_sql: str, probes: dict) -> dict:
        from fortisiem_clickhouse_monitor_spark.testing import compare

        res: dict = {}
        try:
            df = self.queries[op.query](self.spark, self.sf_dir)
            oracle = cursor.execute(oracle_sql).fetch_arrow_table()
            cursor.register("perfbench_oracle", oracle)
            problems = compare(df, cursor, "SELECT * FROM perfbench_oracle", require_rows=True)
            res["rows"] = oracle.num_rows
            if op.query in probes:
                res["probe"] = int(probes[op.query](self.spark, self.sf_dir))
        except Exception as exc:  # noqa: BLE001 — one op's failure is reported, the run goes on
            traceback.print_exc(file=sys.stderr)
            problems = [f"{type(exc).__name__}: {exc}"[:300]]
        finally:
            cursor.close()
        res["ok"] = not problems
        if problems:
            res["problems"] = problems
        return res

    def warm_up(self) -> None:
        """``wl.warm_passes`` untimed passes on each of ``WARM_CLIENTS``
        threads, through the real sinks.  Concurrent clients bring the JIT
        to steady state in a fraction of the wall time one client needs."""

        def client(k: int) -> None:
            for n in range(self.wl.warm_passes):
                for op in self.wl.ops:
                    self.run_op(op, f"warm{k}.{n}")

        with ThreadPoolExecutor(WARM_CLIENTS) as pool:
            for f in [pool.submit(client, k) for k in range(WARM_CLIENTS)]:
                f.result()
        self.flush_outputs()

    # -- timed ops ---------------------------------------------------------
    def run_op(self, op, pass_idx) -> tuple[bool, float]:
        tr = self.tracer
        tr.trace_id = f"{pass_idx}:{op.query}"
        if tr.active:
            self.spark.sparkContext.setJobDescription(tracing.OP_TAG + op.query)
        t = time.perf_counter()
        try:
            with tr.span("op", op=op.query, pass_idx=pass_idx):
                with tr.span("build"):
                    df = self.queries[op.query](self.spark, self.sf_dir)
                if tr.active:
                    with tr.span("catalyst") as s:
                        s["phases_ms"] = tracing.catalyst_phases(df)
                with tr.span("exec"):
                    ok = self._sink(op, df, pass_idx)
        except Exception as exc:  # noqa: BLE001 — a failed op counts, the pass goes on
            if op.query not in self.errors:
                traceback.print_exc(file=sys.stderr)
                self.errors[op.query] = f"{type(exc).__name__}: {exc}"[:300]
            return False, time.perf_counter() - t
        return ok, time.perf_counter() - t

    def _sink(self, op, df, pass_idx) -> bool:
        tr = self.tracer
        if op.sink == "frames":
            with tr.span("streaming.jobs.frame") as s:
                frames = [r["frame"] for r in self.jobs.frame_syslog(df, op.payload).collect()]
                s["frames"] = len(frames)
            return len(frames) == self.expected_rows.get(op.query)
        if op.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
            return True
        path = os.path.join(self.out_dir, f"{op.query}-{pass_idx}")
        with tr.span("sources.writers.write") as s:
            self.writers.write_partitioned(df, path, ["lang"])
        self.written.append((s, path))
        return True

    def flush_outputs(self) -> None:
        """Size up, then delete, what the last pass wrote (outside timing)."""
        for span, path in self.written:
            n_bytes = n_files = 0
            for base, _dirs, files in os.walk(path):
                for f in files:
                    n_bytes += os.path.getsize(os.path.join(base, f))
                    n_files += f.startswith("part-")
            if span:
                span["bytes"], span["files"] = n_bytes, n_files
            shutil.rmtree(path, ignore_errors=True)
        self.written.clear()


def layer_metrics(tracer, exec_totals, op_rows, n_traced, setup, check, traced_s, untraced_s) -> dict:
    timed = [s for s in tracer.spans if s["trace"] is not None]
    tot = tracing.span_totals(timed)

    def per_pass(name, key="s"):
        return tot.get(name, {}).get(key, 0.0) / max(n_traced, 1)

    def attr_sum(name, key):
        return sum(s.get(key, 0) for s in timed if s["name"] == name) / max(n_traced, 1)

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for s in timed:
        if s["name"] == "catalyst":
            for k in phases:
                phases[k] += s["phases_ms"].get(k, 0.0)
    probes = {q: r["probe"] for q, r in check.items() if r.get("ok") and r.get("probe")}
    m = {
        "registry.load_s": setup["registry.load_s"],
        "session.start_s": setup["session.start_s"],
        "sources.tables.calls": per_pass("sources.tables", "calls"),
        "sources.tables.s": per_pass("sources.tables"),
        "sources.fixtures.calls": per_pass("sources.fixtures", "calls"),
        "sources.fixtures.s": per_pass("sources.fixtures"),
        "operators.build_self_s": per_pass("build", "self_s"),
        "checkpoint.calls": per_pass("checkpoint", "calls"),
        "checkpoint.s": per_pass("checkpoint"),
        "catalyst.analysis_ms": phases["analysis"] / max(n_traced, 1),
        "catalyst.optimization_ms": phases["optimization"] / max(n_traced, 1),
        "catalyst.planning_ms": phases["planning"] / max(n_traced, 1),
        "exec.s": per_pass("exec"),
        "operators.useful_ratio": (
            sum(op_rows.get(q, 0.0) for q in probes) / max(n_traced, 1) / sum(probes.values())
            if probes
            else 0.0
        ),
        "streaming.jobs.frame_s": per_pass("streaming.jobs.frame"),
        "streaming.jobs.frames": attr_sum("streaming.jobs.frame", "frames"),
        "sources.writers.write_s": per_pass("sources.writers.write"),
        "sources.writers.bytes": attr_sum("sources.writers.write", "bytes"),
        "sources.writers.files": attr_sum("sources.writers.write", "files"),
        "bench.trace_overhead_frac": (
            statistics.median(traced_s) / statistics.median(untraced_s) - 1.0
            if traced_s and untraced_s
            else 0.0
        ),
    }
    for k, v in exec_totals.items():
        m[k] = v if k == "exec.peak_memory_bytes" else v / max(n_traced, 1)
    return m


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _children(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.1)
    for k in kids:
        if os.path.exists(f"/proc/{k}"):
            try:
                os.kill(k, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run(args, work: str) -> int:
    prepare_env(work)
    sys.path.insert(0, ROOT)
    wl = workloads.build(args.workload)
    sf = args.sf if (args.sf is not None and wl.sf is not None) else wl.sf
    tracer = tracing.Tracer()
    tracer.active = bool(args.trace)
    setup: dict[str, float] = {}

    t = time.perf_counter()
    with tracer.span("registry.load"):
        from fortisiem_clickhouse_monitor_spark import registry

        registry.all_queries()
        probes = registry.work_probes() if args.trace else {}
    setup["registry.load_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.start"):
        from fortisiem_clickhouse_monitor_spark.session import get_spark

        spark = get_spark("perfbench")
    setup["session.start_s"] = time.perf_counter() - t
    try:
        import duckdb

        t = time.perf_counter()
        with tracer.span("datagen"):
            if sf is None:
                sf_dir, con = None, duckdb.connect()
            else:
                from datagen import write_tables
                from fortisiem_clickhouse_monitor_spark.testing import duck_connection

                sf_dir = os.path.join(work, "data")
                write_tables(sf_dir, args.seed, sf)
                con = duck_connection(sf_dir)
        setup["datagen_s"] = time.perf_counter() - t
        out_dir = os.path.join(work, "out")
        os.makedirs(out_dir)
        runner = Runner(spark, wl, sf_dir, out_dir, tracer)
        if args.trace:
            tracing.install(tracer, type(spark.range(1)))
        t = time.perf_counter()
        with tracer.span("check"):
            tracer.active = False
            check = runner.check(con, probes)
        con.close()
        runner.flush_outputs()
        setup["check_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("warmup"):
            runner.warm_up()
        setup["warmup_s"] = time.perf_counter() - t
        stats = tracing.ExecStats(spark) if args.trace else None
        record, line = measure(args, wl, sf, spark, runner, tracer, stats, setup, check)
    finally:
        stop_spark(spark)

    if args.spans_out:
        with open(args.spans_out, "w") as fh:
            json.dump({"spans": tracer.spans}, fh)
    print(json.dumps({"perfbench_record": record}, sort_keys=True, default=str))
    print(json.dumps(line))
    sys.stdout.flush()
    return 0


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def jvm_busy_s(spark) -> dict[str, float]:
    """Cumulative GC and JIT-compile seconds of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return {"gc_s": gc_ms / 1e3, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


def quiet_passes(passes: list[dict]) -> list[dict]:
    """The passes during which the hypervisor stole no more of the host's
    CPU time than it did in the median pass: at least half of them, and
    all of them on a host that steals nothing."""
    cut = statistics.median(p["steal_frac"] for p in passes)
    return [p for p in passes if p["steal_frac"] <= cut]


def measure(args, wl, sf, spark, runner, tracer, stats, setup, check):
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    for pid in ("self", jvm_pid):
        reset_peak_rss(pid)
    jvm_before = jvm_busy_s(spark)
    rng = random.Random(args.seed)
    t_first = time.perf_counter()
    # The generated tables and the oracle check are the benchmark's own
    # work, not the engine's: they are left out of set-up time.
    setup_s = t_first - _T0 - setup["datagen_s"] - setup["check_s"]
    deadline = t_first + args.seconds
    untraced, traced_s = [], []
    exec_totals = dict.fromkeys((*stats.COUNTERS, "catalyst.codegen_compiles") if stats else (), 0.0)
    op_rows: dict[str, float] = {}
    pass_jit_s: list[float] = []
    pass_compiles: list[int] = []
    pass_steal_s: list[float] = []
    attempted = failed = 0
    p = 0
    while True:
        # Pass 0 is never traced and never enters the overhead ratio: it
        # is still the slowest pass.  After it, T U U T T U ... pairs up
        # traced and untraced passes at the same distance from warm-up.
        traced = bool(args.trace) and p > 0 and (p - 1) % 4 in (0, 3)
        order = list(wl.ops)
        rng.shuffle(order)
        tracer.active = traced
        jit_before = jvm_busy_s(spark)["jit_s"]
        compiles_before = codegen_compiles(spark)
        steal_before = host_steal_s()
        ops_s: dict[str, float] = {}
        t = time.perf_counter()
        for op in order:
            ok, dt = runner.run_op(op, p)
            attempted += 1
            if not ok or op.query in runner.bad:
                failed += 1
            else:
                ops_s[op.query] = dt
        elapsed = time.perf_counter() - t
        pass_steal_s.append(host_steal_s() - steal_before)
        pass_jit_s.append(jvm_busy_s(spark)["jit_s"] - jit_before)
        pass_compiles.append(codegen_compiles(spark) - compiles_before)
        tracer.active = False
        if traced:
            spark.sparkContext.setJobDescription(None)
            traced_s.append(elapsed)
        else:
            steal_frac = pass_steal_s[-1] / (os.cpu_count() * elapsed)
            untraced.append({"s": elapsed, "steal_frac": steal_frac, "ops_s": ops_s})
        runner.flush_outputs()
        if stats:
            if traced:
                counts = stats.collect()
                counts["catalyst.codegen_compiles"] = pass_compiles[-1]
                for k, v in counts.items():
                    if k == "exec.peak_memory_bytes":
                        exec_totals[k] = max(exec_totals[k], v)
                    else:
                        exec_totals[k] += v
                for q, rows in stats.rows_by_op.items():
                    op_rows[q] = op_rows.get(q, 0.0) + rows
            else:
                stats.skip()
        p += 1
        both_kinds = not args.trace or (traced_s and len(untraced) > 1)
        if time.perf_counter() >= deadline and both_kinds:
            break

    jvm_after = jvm_busy_s(spark)
    rss_kb = _proc_status_kb("self", "VmHWM") + _proc_status_kb(jvm_pid, "VmHWM")
    untraced_s = [u["s"] for u in untraced]
    quiet = quiet_passes(untraced)
    samples = [dt for u in quiet for dt in u["ops_s"].values()]
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(u["s"] for u in quiet),
        "op_p50_s": percentile(samples, 0.5) if samples else 0.0,
        "op_p90_s": percentile(samples, 0.9) if samples else 0.0,
    }
    layers = None
    if args.trace:
        layers = layer_metrics(
            tracer, exec_totals, op_rows, len(traced_s), setup, check, traced_s, untraced_s[1:]
        )
    chosen = layers if args.trace else e2e
    units = metric_units("per_layer" if args.trace else "end_to_end")
    line = {
        "correct": failed == 0 and all(r["ok"] for r in check.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }
    record = {
        "workload": wl.name,
        "ops": [op.query for op in wl.ops],
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_facts(spark, args, sf),
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in metric_units("end_to_end").items()},
        "ops_failed_frac": {"value": failed / attempted, "unit": "1"},
        "op_samples": len(samples),
        "passes": {"untraced": len(untraced_s), "quiet": len(quiet), "traced": len(traced_s)},
        "pass_times_s": {"untraced": untraced_s, "traced": traced_s},
        "setup_parts_s": setup,
        "jvm_in_window_s": {k: jvm_after[k] - jvm_before[k] for k in jvm_after},
        "peak_rss_mb": rss_kb / 1024.0,
        "pass_jit_s": pass_jit_s,
        "pass_steal_s": pass_steal_s,
        "pass_codegen_compiles": pass_compiles,
        "per_op_median_s": {
            q: statistics.median(u["ops_s"][q] for u in quiet if q in u["ops_s"])
            for q in {q for u in quiet for q in u["ops_s"]}
        },
        "check": check,
        "errors": runner.errors,
    }
    if layers is not None:
        record["per_layer"] = line["metrics"]
        record["spans"] = tracing.span_totals(tracer.spans)
        record["rows_out_per_traced_pass"] = {q: v / len(traced_s) for q, v in op_rows.items()}
    return record, line


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    def on_alarm(_signum, _frame):
        raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    try:
        return run(args, work)
    except Exception:  # noqa: BLE001 — report and fail the run without a result line
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
